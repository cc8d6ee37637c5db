package graft.streaming

import java.nio.charset.StandardCharsets

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQuery}
import org.apache.spark.sql.types.DecimalType

import graft.cdc.{CdcApplier, FileStats}

/** Structured Streaming CDC pipeline (SURVEY.md §2.1 S1/S2/S5/S12/S13/S14).
  *
  * The reference tails the binlog on one thread and applies events strictly
  * in order (`Rep.scala:24,56-65`), advancing a position checkpoint after
  * every applied event (`HbaseApplier.scala:138-176`). The Spark-native
  * equivalent: a streaming `ChangeEvent` source → `foreachBatch` over the
  * idempotent incremental [[CdcApplier]] — per-key ordering comes from
  * last-writer-wins resolution, crash recovery from the Structured Streaming
  * checkpoint (offset+commit log) plus the applier's position guard, so
  * at-least-once redelivery converges to exactly-once state.
  *
  * Reference semantics preserved:
  *  - S5 replication filter: events for unmapped tables are dropped *but
  *    still advance the position high-watermark* (invariant 5,
  *    `MySQLExtractor.scala:225-236`) — a burst of unmapped traffic must
  *    not stall recovery. The high-watermark is published to a hidden file
  *    in the target with a checked rename (same discipline as the bucket
  *    swap).
  *  - S13 retry / dead-letter: a failing batch is retried `maxRetries`
  *    times, then the query fails — the analog of the reference's bounded
  *    in-memory retry queue then process exit (`Rep.scala:67-124`);
  *    restart-from-checkpoint is the recovery path.
  *  - S17 metrics: per-table per-op event counts and a sliding window of
  *    recent batch latencies (`MySQLExtractor.scala:27-29`,
  *    `HbaseApplier.scala:45-52`), kept in [[Metrics]].
  */
object StreamingPipeline {

  /** @param applier       merge options (PK, compat mode, buckets)
    * @param mappedTables  replication filter set (S5); empty = replicate all
    * @param maxRetries    applier attempts per batch before the query fails
    * @param secondaryDir  optional second sink (S20): after each merged
    *                      batch the converged snapshot is replicated there
    *                      through the Mongo-path value coercions
    * @param earliestPos   the earliest position the SOURCE still retains
    *                      (the binlog's oldest un-purged event). When the
    *                      stored high-watermark lies below it the gap was
    *                      purged upstream: the pipeline fails with an
    *                      explicit rebootstrap-required error — the analog
    *                      of the reference exiting on MySQL error 1236
    *                      (`MySQLExtractor.scala:92-103`) — instead of
    *                      silently skipping the lost events
    * @param compactEvery  steady-state tombstone compaction (S14b): every
    *                      N applied batches, run [[CdcApplier.compact]] at
    *                      the published position high-watermark, physically
    *                      dropping delete tombstones the checkpoint can no
    *                      longer replay past. 0 (default) disables.
    * @param optimizeEvery small-file bin-packing cadence ([[CdcApplier
    *                      .optimize]]): every N applied batches, coalesce
    *                      any bucket whose file count exceeds its
    *                      bin-packed target — the knob that bounds
    *                      file-count growth in a long-running pipeline
    *                      (MOR deltas accumulate per batch; COW buckets
    *                      carry one file per writing task). Same
    *                      best-effort discipline as `compactEvery`.
    *                      0 (default) disables.
    * @param optimizeTargetBytes per-file size target for `optimizeEvery`
    * @param analyzeEvery  CBO-statistics refresh cadence (q286): every N
    *                      applied batches, re-run [[graft.cdc.ColumnStats
    *                      .analyze]] so plans over the churning table keep
    *                      steering on near-live numbers. Same best-effort
    *                      discipline as its siblings. 0 (default) disables.
    * @param analyzeApprox use `approx_count_distinct` in the cadence
    *                      analyze (default — one pass, no Expand: the
    *                      100 TB mode); false pins exact NDVs.
    * @param preApplyHook  test seam: runs before each apply attempt
    * @param morSink       apply through the merge-on-read delta path
    *                      ([[CdcApplier.applyBatchMor]]) instead of the
    *                      copy-on-write bucket swap — the hot-table setting
    *                      where per-batch write I/O must be the batch, not
    *                      the touched buckets. Pair with `compactEvery`:
    *                      the cadence compaction collapses delta versions
    *                      first (tombstone horizon safety), bounding the
    *                      readers' resolve cost in steady state. */
  case class PipelineOptions(
      applier: CdcApplier.Options,
      mappedTables: Set[String] = Set.empty,
      maxRetries: Int = 2,
      secondaryDir: Option[String] = None,
      earliestPos: Option[Long] = None,
      compactEvery: Int = 0,
      optimizeEvery: Int = 0,
      optimizeTargetBytes: Long = 128L << 20,
      analyzeEvery: Int = 0,
      analyzeApprox: Boolean = true,
      preApplyHook: () => Unit = () => (),
      morSink: Boolean = false,
      indexes: Seq[IndexSpec] = Nil)

  /** A secondary index maintained in the SAME micro-batch as the primary
    * (the reference's HBase deployments keep index tables beside the data
    * table; q123/q133 build them in batch — this is the streaming form).
    * The index is an ordinary bucketed graft table keyed by the indexed
    * column(s) ++ the primary key, fed the primary's envelope with
    * before/after PROJECTED to `cols`: an update that MOVES the indexed
    * value is a PK-moving update on the index table, which the ordinary
    * resolve fans out to delete@old-value + upsert@new-value — index rows
    * can never go stale. Applied under the same bounded-retry policy;
    * the index lags the primary by at most the in-flight batch (same
    * batch, later apply — the standard async-index contract, here
    * actually synchronous per micro-batch). */
  case class IndexSpec(targetDir: String, cols: Seq[String],
      opts: CdcApplier.Options)

  /** Per-pipeline observability (S17): per-table-per-op counts, batch
    * counter, last-10 batch latencies. Thread-safe; keyed by target dir. */
  object Metrics {
    private val opCounts = TrieMap.empty[(String, String, String), Long]
    private val batches = TrieMap.empty[String, Long]
    private val latencies = TrieMap.empty[String, Vector[Long]]

    private[streaming] def record(
        target: String, counts: Seq[((String, String), Long)], durationMs: Long): Unit = {
      counts.foreach { case ((table, op), n) =>
        val k = (target, table, op)
        opCounts.updateWith(k) { prev => Some(prev.getOrElse(0L) + n) }
      }
      batches.updateWith(target)(p => Some(p.getOrElse(0L) + 1))
      latencies.updateWith(target)(p => Some((p.getOrElse(Vector.empty) :+ durationMs).takeRight(10)))
    }

    def opCount(target: String, table: String, op: String): Long =
      opCounts.getOrElse((target, table, op), 0L)
    def batchCount(target: String): Long = batches.getOrElse(target, 0L)
    def recentLatenciesMs(target: String): Vector[Long] =
      latencies.getOrElse(target, Vector.empty)
    /** All per-table-per-op counters for one target (S18 status surface). */
    def allOpCounts(target: String): Map[(String, String), Long] =
      opCounts.collect { case ((t, table, op), n) if t == target => (table, op) -> n }.toMap
    def reset(target: String): Unit = {
      opCounts.keys.filter(_._1 == target).foreach(opCounts.remove)
      batches.remove(target); latencies.remove(target)
      unregisterJmx(target)
    }

    /** JMX surface (S17/S18 parity with the reference's MBean registration,
      * `Rep.scala:33-38`): expose one `graft.streaming:type=PipelineMetrics`
      * bean per target on the platform MBeanServer, mirroring what
      * `/status` serves. Registration is idempotent (re-register on query
      * restart replaces the bean). */
    trait PipelineMetricsMBean {
      def getBatchCount: Long
      def getRecentLatenciesMs: Array[Long]
      def getOpCounts: String
    }

    private def jmxName(target: String): javax.management.ObjectName =
      new javax.management.ObjectName(
        "graft.streaming:type=PipelineMetrics,target=" +
          javax.management.ObjectName.quote(target))

    def registerJmx(target: String): javax.management.ObjectName = {
      import javax.management.StandardMBean
      val bean = new StandardMBean(new PipelineMetricsMBean {
        override def getBatchCount: Long = batchCount(target)
        override def getRecentLatenciesMs: Array[Long] = recentLatenciesMs(target).toArray
        override def getOpCounts: String = allOpCounts(target).toSeq.sorted
          .map { case ((t, op), n) => s"$t.$op=$n" }.mkString(",")
      }, classOf[PipelineMetricsMBean])
      val name = jmxName(target)
      val server = java.lang.management.ManagementFactory.getPlatformMBeanServer
      if (server.isRegistered(name)) server.unregisterMBean(name)
      server.registerMBean(bean, name)
      name
    }

    /** Drop the target's MBean (and counters, via the existing reset) —
      * long-lived drivers cycling through many target dirs must not grow
      * the platform MBeanServer without bound. */
    def unregisterJmx(target: String): Unit = {
      val server = java.lang.management.ManagementFactory.getPlatformMBeanServer
      val name = jmxName(target)
      if (server.isRegistered(name)) server.unregisterMBean(name)
    }
  }

  private def highWaterPath(targetDir: String) =
    new Path(targetDir, graft.cdc.CdcApplier.HIGHWATER)

  /** Last published position high-watermark (advances even for filtered
    * tables — invariant 5). */
  def readHighWater(spark: SparkSession, targetDir: String): Option[Long] = {
    val p = highWaterPath(targetDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8).trim.toLong)
      finally in.close()
    }
  }

  private def writeHighWater(
      conf: org.apache.hadoop.conf.Configuration, targetDir: String, pos: Long): Unit =
    // rename-with-OVERWRITE publish: the live watermark file is never
    // absent mid-publish (a delete-then-rename crash window would reset a
    // recovering pipeline to Long.MinValue and let a replayed batch move
    // the watermark BACKWARDS)
    graft.util.AtomicFile.write(conf, highWaterPath(targetDir), pos.toString)

  /** One micro-batch: purge guard → count (S17) → high-watermark over the
    * FULL batch → replication filter (S5) → retried incremental merge
    * (S13 + S9-S11). */
  def applyMicroBatch(
      spark: SparkSession, batch: DataFrame, targetDir: String, opts: PipelineOptions,
      batchId: Long = -1L): Unit = {
    val t0 = System.nanoTime()
    // Rebootstrap guard: positions in (highwater, earliestPos) were purged
    // at the source — no retry can recover them, fail the query explicitly.
    for (ea <- opts.earliestPos; hw <- readHighWater(spark, targetDir))
      if (ea > hw + 1)
        throw new IllegalStateException(
          s"rebootstrap required: source retains positions only from $ea but the target's " +
            s"high-watermark is $hw — events in (${hw + 1}..${ea - 1}) were purged upstream")
    val cached = batch.persist()
    try {
      // one aggregation pass yields both the S17 counters and the position
      // high-watermark — no second driver action over the batch
      val rows = cached.groupBy(col("table"), col("op"))
        .agg(count(lit(1)).as("n"), max(col("next_position")).as("mx"))
        .collect()
      if (rows.isEmpty) return
      val stats = rows.map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toSeq
      val newHigh = rows.map(_.getLong(3)).max
      val mapped =
        if (opts.mappedTables.isEmpty) cached
        else cached.filter(col("table").isin(opts.mappedTables.toSeq: _*))
      val envelope = mapped.select("op", "next_position", "before", "after")

      // S13 bounded retry, applied uniformly to every sink in the batch.
      def withRetries[T](what: String)(f: => T): T = {
        var attempt = 0
        var lastErr: Throwable = null
        while (attempt <= opts.maxRetries) {
          try return f
          catch { case e: Throwable => lastErr = e; attempt += 1 }
        }
        throw new IllegalStateException(
          s"$what failed after ${opts.maxRetries + 1} attempts", lastErr)
      }

      val touched: Seq[Int] =
        if (envelope.isEmpty) Seq.empty
        else withRetries("CDC batch") {
          opts.preApplyHook()
          if (opts.morSink)
            CdcApplier.applyBatchMor(spark, envelope, targetDir, opts.applier)
          else
            CdcApplier.applyBatch(spark, envelope, targetDir, opts.applier)
        }

      // S20 second sink: coerced replica of the converged state, mirroring
      // only the buckets this batch touched (backfills an empty replica;
      // no-op when the primary has no state yet).
      opts.secondaryDir.foreach(dir => withRetries("secondary replication") {
        graft.cdc.CoercingSink.replicateBuckets(spark, targetDir, dir, touched)
      })

      // Secondary indexes: the same envelope with before/after projected
      // to each index's columns, applied through the ordinary incremental
      // merge (see IndexSpec — an indexed-value change is a PK move on
      // the index table and resolves to delete@old + upsert@new).
      if (touched.nonEmpty) opts.indexes.foreach { ix =>
        withRetries(s"index ${ix.targetDir}") {
          def proj(side: String) = when(col(side).isNotNull,
            struct(ix.cols.map(c => col(s"$side.$c").as(c)): _*))
          CdcApplier.applyBatch(spark,
            envelope.select(col("op"), col("next_position"),
              proj("before").as("before"), proj("after").as("after")),
            ix.targetDir, ix.opts)
        }
      }

      // Invariant 5: advance the watermark even when everything was filtered
      // — and monotonically, so replayed batches can't move it backwards.
      val prior = readHighWater(spark, targetDir).getOrElse(Long.MinValue)
      if (newHigh > prior)
        writeHighWater(spark.sparkContext.hadoopConfiguration, targetDir, newHigh)

      Metrics.record(targetDir, stats, (System.nanoTime() - t0) / 1000000)

      // S14b steady state: periodic tombstone compaction at the published
      // watermark. Best-effort by design — the batch is already applied and
      // the watermark published, and compact() is crash-safe (horizon
      // persisted first, atomic bucket publish), so a failed attempt is
      // simply retried compactEvery batches later rather than failing an
      // otherwise-converged query. The cadence keys on the CHECKPOINTED
      // streaming batchId when available — the in-memory batch counter
      // resets on driver restart, which would indefinitely postpone
      // compaction on frequently-redeployed pipelines.
      def cadence(every: Int) =
        if (batchId >= 0L) (batchId + 1) % every == 0
        else Metrics.batchCount(targetDir) % every == 0
      if (opts.compactEvery > 0 && cadence(opts.compactEvery)) {
        val horizon = math.max(newHigh, prior)
        try CdcApplier.compact(spark, targetDir, horizon)
        catch {
          case e: Throwable =>
            Console.err.println(s"[graft] auto-compaction of $targetDir at $horizon failed: $e")
        }
      }
      // Small-file bin packing on its own cadence, same best-effort
      // discipline: state is identical before/after, the publish is
      // crash-safe, so a failed attempt simply retries next cadence.
      if (opts.optimizeEvery > 0 && cadence(opts.optimizeEvery)) {
        try CdcApplier.optimize(spark, targetDir, opts.optimizeTargetBytes)
        catch {
          case e: Throwable =>
            Console.err.println(s"[graft] auto-optimize of $targetDir failed: $e")
        }
      }
      // CBO statistics freshness on the compactEvery/optimizeEvery cadence
      // (q286): a streaming deployment's stats otherwise go stale as the
      // table churns — re-ANALYZE every N batches, approx NDV by default
      // (one pass, mergeable HLL registers — the 100 TB mode; q285's exact
      // mode stays opt-in). Best-effort like its siblings: stats are
      // estimates by contract, a failed refresh retries next cadence.
      if (opts.analyzeEvery > 0 && cadence(opts.analyzeEvery)) {
        try graft.cdc.ColumnStats.analyze(spark, targetDir, opts.analyzeApprox)
        catch {
          case e: Throwable =>
            Console.err.println(s"[graft] auto-analyze of $targetDir failed: $e")
        }
      }
    } finally cached.unpersist()
  }

  /** Checkpoint evidence that THIS query ran before: a non-empty `offsets`
    * log under the checkpoint dir. Only then may the restart auto-reclaim a
    * held commit ticket — with no checkpoint there was no prior
    * incarnation, so any held ticket belongs to SOMEONE ELSE (alive). */
  private def hadPriorIncarnation(
      spark: org.apache.spark.sql.SparkSession, checkpointDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir, "offsets")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }

  /** Start the streaming CDC query. `changes` must be a streaming DataFrame
    * with columns (op, table, next_position, before, after). */
  def start(
      changes: DataFrame, targetDir: String, checkpointDir: String,
      opts: PipelineOptions): StreamingQuery = {
    Metrics.registerJmx(targetDir)
    // Restart-from-checkpoint IS the single-writer restart contract (S2):
    // the prior incarnation is dead by definition, so a commit ticket it
    // died holding (q257 fence) is reclaimed here — the first replayed
    // micro-batch then re-applies and converges instead of fencing forever.
    // Secondary-index targets publish under their own tickets in the same
    // micro-batch, so they reclaim too (a stale index ticket would fail
    // every retry of every batch — an unrecoverable query otherwise).
    // GATED on checkpoint evidence of a prior incarnation: a FIRST start
    // (no checkpoint offsets yet) cannot assert any ticket holder is its
    // own dead predecessor — reclaiming there would let a second
    // misconfigured pipeline steal a LIVE writer's ticket, the exact
    // adversary the fence exists for; it fences loudly instead.
    if (hadPriorIncarnation(changes.sparkSession, checkpointDir))
      (targetDir +: opts.indexes.map(_.targetDir)).foreach { d =>
        if (CdcApplier.reclaimCommit(changes.sparkSession, d))
          Console.err.println(
            s"[graft] reclaimed a stale commit ticket at $d (prior writer died mid-publish)")
      }
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyMicroBatch(batch.sparkSession, batch, targetDir, opts, batchId)
      }
      .start()
  }

  /** One streaming query per mapped table from a single generic feed —
    * SURVEY §7 hard part (c): the binlog carries dynamic per-table schemas,
    * so the shared envelope keeps `before`/`after` as JSON strings and each
    * table's query parses them with `from_json` against its own discovered
    * schema before the typed incremental merge. `changes` columns:
    * (op, table, next_position, before_json, after_json). */
  def startPerTable(
      changes: DataFrame,
      tables: Map[String, (org.apache.spark.sql.types.StructType, String)],
      checkpointRoot: String,
      opts: String => PipelineOptions): Map[String, StreamingQuery] =
    tables.map { case (table, (schema, targetDir)) =>
      val typed = changes
        .filter(col("table") === table)
        .select(col("op"), col("table"), col("next_position"),
          from_json(col("before_json"), schema).as("before"),
          from_json(col("after_json"), schema).as("after"))
      table -> start(typed, targetDir, s"$checkpointRoot/$table", opts(table))
    }

  /** CONSOLIDATED many-table topology: the same fan-out as [[startPerTable]]
    * but through ONE streaming query (one checkpoint, one scheduler entry) —
    * at thousands of mapped tables, a query per table is driver/scheduler
    * pressure the reference's single-process design never had. Each
    * micro-batch is persisted once, the tables actually present in it are
    * discovered with one tiny distinct, and each is routed through the same
    * typed [[applyMicroBatch]] as the per-table mode (same per-target
    * watermarks, metrics, and retry policy; a table failing all retries
    * fails the whole query, exactly as a lost per-table query would).
    * Trade-off vs [[startPerTable]]: tables advance in lock-step per
    * micro-batch instead of independently — the right shape when table
    * count, not per-table volume, is the scaling axis. */
  def startConsolidated(
      changes: DataFrame,
      tables: Map[String, (org.apache.spark.sql.types.StructType, String)],
      checkpointDir: String,
      opts: String => PipelineOptions,
      epochDir: Option[String] = None): StreamingQuery = {
    tables.values.foreach { case (_, targetDir) => Metrics.registerJmx(targetDir) }
    // same restart-reclaim contract as [[start]] — including its
    // prior-incarnation gate — for every routed target and its indexes
    if (hadPriorIncarnation(changes.sparkSession, checkpointDir))
      tables.toSeq.sortBy(_._1).foreach { case (t, (_, targetDir)) =>
        (targetDir +: opts(t).indexes.map(_.targetDir)).foreach { d =>
          if (CdcApplier.reclaimCommit(changes.sparkSession, d))
            Console.err.println(s"[graft] reclaimed a stale commit ticket at $d")
        }
      }
    changes.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cached = batch.persist()
        try {
          val present = cached.select(col("table")).distinct()
            .collect().map(_.getString(0)).toSet
          tables.toSeq.sortBy(_._1).foreach { case (table, (schema, targetDir)) =>
            if (present(table)) {
              val typed = cached
                .filter(col("table") === table)
                .select(col("op"), col("table"), col("next_position"),
                  from_json(col("before_json"), schema).as("before"),
                  from_json(col("after_json"), schema).as("after"))
              applyMicroBatch(batch.sparkSession, typed, targetDir, opts(table), batchId)
            }
          }
          // Cross-table snapshot consistency: tables publish SEQUENTIALLY
          // above, so a reader between two publishes sees table A advanced
          // and table B not. The epoch marker — written LAST, atomically —
          // records every table's published position AND the signature of
          // its live file set for this batch; [[consistentSnapshot]] pins
          // reads to it (all-or-none). The file signature is what makes
          // the pin exact: parquet publishes always mint fresh file names,
          // so the signature uniquely identifies a table's data version —
          // a position check alone cannot (data swaps BEFORE the
          // high-water file advances, leaving a window where table A reads
          // new and table B old under a clean position check).
          // The marker covers each table's SECONDARY INDEXES too (under
          // [[Epoch.indexName]] keys): an index is applied in the same
          // micro-batch as its primary but by a SEPARATE publish, so a
          // two-hop reader (index lookup -> primary fetch) can otherwise
          // cross an epoch boundary between hops — exactly the class of
          // race the two-TABLE marker closed. With index entries in the
          // marker, consistentSnapshot pins (primary, index) to one batch.
          epochDir.foreach { dir =>
            val positions = tables.toSeq.sortBy(_._1).flatMap { case (t, (_, targetDir)) =>
              def entry(name: String, d: String) = (name,
                readHighWater(batch.sparkSession, d).getOrElse(Long.MinValue),
                Epoch.fileSig(Epoch.liveDataFiles(batch.sparkSession, d)))
              entry(t, targetDir) +:
                opts(t).indexes.map(ix => entry(Epoch.indexName(t, ix.targetDir), ix.targetDir))
            }
            Epoch.write(batch.sparkSession.sparkContext.hadoopConfiguration,
              dir, batchId, positions)
          }
        } finally cached.unpersist()
      }
      .start()
  }

  /** The consolidated topology's cross-table consistency marker (see
    * [[startConsolidated]]): one tiny file, rewritten atomically AFTER every
    * table of a micro-batch has published, recording the batch id and each
    * table's position high-watermark at that point. */
  object Epoch {
    private def path(epochDir: String) = new Path(epochDir, ".graft_epoch")

    /** Marker key for a table's secondary-index target — ONE naming rule
      * shared by the writer ([[startConsolidated]]'s marker) and readers
      * (the `tables` map handed to [[consistentSnapshot]]), so the two
      * cannot drift. The full index dir keeps the key unambiguous when a
      * table carries several indexes. */
    def indexName(table: String, indexDir: String): String =
      s"$table:index:$indexDir"

    /** Direct-FS listing of a bucketed target's live data files — the part
      * files under non-hidden `graft_bucket=*` dirs, scheme-stripped. No
      * Spark file-index/status cache is involved, so this is the ground
      * truth a pinned snapshot's `inputFiles` must match (and the fence
      * callers re-check after materializing — see q115). */
    private[graft] def liveDataFiles(spark: SparkSession, targetDir: String): Set[String] = {
      val dir = new Path(targetDir)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(dir)) Set.empty
      else fs.listStatus(dir).iterator
        .filter(d => d.isDirectory &&
          d.getPath.getName.startsWith(CdcApplier.BUCKET + "="))
        .flatMap(d => fs.listStatus(d.getPath).iterator)
        .filter(FileStats.isDataFile)
        .map(_.getPath.toUri.getPath)
        .toSet
    }

    /** Order-independent signature of a live file set — the marker-sized
      * stand-in for "which data version is published". Fresh parquet file
      * names are minted on every publish, so equal signatures ⇒ identical
      * published data. */
    private[graft] def fileSig(files: Set[String]): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      files.toSeq.sorted.foreach(f =>
        md.update((f + "\n").getBytes(StandardCharsets.UTF_8)))
      md.digest().map("%02x".format(_)).mkString
    }

    def write(conf: org.apache.hadoop.conf.Configuration, epochDir: String,
        batchId: Long, positions: Seq[(String, Long, String)]): Unit =
      graft.util.AtomicFile.write(conf, path(epochDir),
        (batchId.toString +: positions.map { case (t, p, sig) => s"$t\t$p\t$sig" })
          .mkString("\n"))

    /** (batchId, table -> (position, fileSig)). */
    def read(conf: org.apache.hadoop.conf.Configuration,
        epochDir: String): Option[(Long, Map[String, (Long, String)])] =
      graft.util.AtomicFile.read(conf, path(epochDir)).map { s =>
        val lines = s.split("\n").toSeq
        (lines.head.trim.toLong,
          lines.tail.filter(_.nonEmpty).map { l =>
            val Array(t, p, sig) = l.split("\t"); t -> (p.toLong, sig)
          }.toMap)
      }

    /** Pin a cross-table read to a complete batch: read the marker, take
      * every table's snapshot, then VERIFY no table's published position
      * moved past the pinned epoch (and the marker itself is unchanged) —
      * a reader that lands between two of a batch's sequential publishes
      * sees the mismatch and retries instead of returning a torn view.
      *
      * The pin is on FILE SIGNATURES, not positions: each table's live
      * data files, listed straight from the filesystem
      * ([[liveDataFiles]]), must hash to the signature the marker recorded
      * for its table, and its snapshot is a live read ([[CdcApplier.liveRead]],
      * the one V1 read left: a connector scan lists its buckets itself and
      * cannot be handed a file set) of exactly those files — so the snapshot's `inputFiles` is that set,
      * and a caller re-verifies it against the marker after materializing.
      * Position/marker checks alone are not airtight — two q115-hunted
      * races get through them: (1) data swaps BEFORE the high-water file
      * advances, so a reader can see table A's new data and table B's old
      * under clean position checks; (2) Spark's session-global
      * FileStatusCache can serve a PRE-publish listing repopulated after
      * the applier's refreshByPath. Equal signatures over a direct listing
      * close both: parquet publishes mint fresh file names, so the
      * signature uniquely identifies each table's data version, and a
      * mid-swap listing cannot match the marker's.
      *
      * Returns (batchId, table -> snapshot); tables with no published
      * state yet (no batch, or filtered-only traffic) are ABSENT from the
      * map — consistently empty, not torn. The snapshots are lazy plans
      * over the verified-published files; materialize (or re-verify) before
      * trusting them across further publishes. Bounded retry: a pipeline
      * publishing continuously faster than the reader can verify is a
      * misconfiguration surfaced as the timeout error, not a silent torn
      * read. */
    def consistentSnapshot(spark: SparkSession, epochDir: String,
        tables: Map[String, String], maxRetries: Int = 10,
        retrySleepMs: Long = 200L): (Long, Map[String, DataFrame]) = {
      val conf = spark.sparkContext.hadoopConfiguration
      var attempt = 0
      while (attempt <= maxRetries) {
        read(conf, epochDir) match {
          case None =>
            // no batch has completed yet: the empty view is the consistent
            // one (no table key — a not-yet-bootstrapped target has no
            // schema to build an empty frame from)
            return (-1L, Map.empty)
          case Some((batchId, positions)) =>
            // a mapped table that has never received an applied event has
            // no published state (a filtered-only table can even have a
            // high-watermark but no buckets) — it is consistently ABSENT,
            // not a torn view. Only that specific no-state condition maps
            // to absence: an IO error or corrupt bucket on a PUBLISHED
            // table propagates instead of silently dropping the table from
            // a "consistent" result (which would defeat the all-or-none
            // contract).
            // A transient failure here (file-listing race against a
            // concurrent bucket-dir swap) is exactly what the retry loop
            // exists for — re-enter it rather than aborting the
            // all-or-none read; persistent corruption still propagates
            // once the retry budget is exhausted.
            scala.util.Try {
              // each table's live file set, listed straight from the
              // filesystem, must hash to the marker's recorded signature
              // (a never-published table is the empty set — consistently
              // absent, and still signature-checked); the snapshot then
              // reads exactly those files
              val files = tables.map { case (t, dir) =>
                CdcApplier.openTarget(new Path(dir).getFileSystem(conf), new Path(dir))
                t -> liveDataFiles(spark, dir)
              }
              val filesPinned = tables.forall { case (t, _) =>
                positions.get(t).forall { case (_, expected) => fileSig(files(t)) == expected }
              }
              val snaps = tables.flatMap { case (t, dir) =>
                // drop any stale shared file-listing before planning
                spark.catalog.refreshByPath(dir)
                val meta = CdcApplier.TargetMeta.read(conf, new Path(dir))
                if (files(t).isEmpty && !meta.exists(_.schemaJson.isDefined)) None
                else Some(t -> CdcApplier.liveRead(spark, meta, dir, files(t).toSeq.sorted))
              }
              val pinned = filesPinned && tables.forall { case (t, dir) =>
                readHighWater(spark, dir).getOrElse(Long.MinValue) ==
                  positions.get(t).map(_._1).getOrElse(Long.MinValue)
              } && read(conf, epochDir).exists(_._1 == batchId)
              (pinned, snaps)
            } match {
              case scala.util.Success((true, snaps)) => return (batchId, snaps)
              case scala.util.Success((false, _)) => () // torn: retry below
              case scala.util.Failure(e) if attempt < maxRetries => ()
              case scala.util.Failure(e) => throw e
            }
        }
        attempt += 1
        if (attempt <= maxRetries) Thread.sleep(retrySleepMs)
      }
      throw new IllegalStateException(
        s"no consistent cross-table epoch after ${maxRetries + 1} attempts — " +
          "a table advanced past the marker on every try (mid-batch reader under " +
          "continuous publishing); raise maxRetries or read between batches")
    }
  }

  /** Stateful per-key high-watermark via `mapGroupsWithState` — the
    * reference's single-writer total order (S12) re-expressed as explicit
    * keyed state: for each key, emit the highest position seen across all
    * batches; stale/out-of-order events never move it backwards. */
  def latestPerKey[E, K: Encoder](events: Dataset[E])(key: E => K, pos: E => Long)(
      implicit outEnc: Encoder[(K, Long)], stateEnc: Encoder[Long]): Dataset[(K, Long)] =
    events.groupByKey(key).mapGroupsWithState(GroupStateTimeout.NoTimeout) {
      (k: K, it: Iterator[E], state: GroupState[Long]) =>
        val mx = (it.map(pos) ++ state.getOption.iterator).max
        state.update(mx)
        (k, mx)
    }

  /** q194: per-user event-transition extraction as a streaming stateful
    * operator — state per user is ONE (seq, last type) pair; each
    * micro-batch folds its (seq-sorted) slice of the user after the
    * carried state, emitting one (from, to) row per adjacency. With a
    * feed in global (ts, event_id) order this equals q192's batch
    * lead-window adjacency exactly, whatever the micro-batch boundaries
    * (the state carries adjacency ACROSS chunks). Within a micro-batch
    * the group iterator carries no order guarantee, so rows sort by seq —
    * bounded by the user's slice of one batch, never their history.
    * Input rows: (user_id, seq, event_type). */
  def streamingTransitions(events: Dataset[(Long, Long, String)])
      : Dataset[(String, String)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, String)],
            state: GroupState[(Long, String)]) =>
          val sorted = it.toIndexedSeq.sortBy(_._2)
          var last = state.getOption
          val out = Seq.newBuilder[(String, String)]
          sorted.foreach { case (_, seq, tp) =>
            last.foreach { case (_, lt) => out += ((lt, tp)) }
            last = Some((seq, tp))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** q210: streaming last-touch attribution — q188's last-touch model as
    * a live operator: per-user state is ONE (click event_id, click tsec)
    * pair — the only thing last-touch needs; each purchase credits the
    * state's click when it falls inside the trailing window. Equals the
    * batch rank-window arm by construction when the feed orders by
    * (tsec, click-before-purchase, event_id): the batch rule is
    * "latest click with ctsec <= ptsec" on unix SECONDS, so same-second
    * clicks must precede same-second purchases in the feed, and among
    * same-second clicks the last kept (max event_id) is exactly the
    * batch tie-break (ctsec desc, cid desc). Input rows:
    * (user_id, seq, typ, event_id, tsec); output (cid, pid). */
  def streamingLastTouch(events: Dataset[(Long, Long, String, Long, Long)])
      : Dataset[(Long, Long)] = {
    import events.sparkSession.implicits._
    val win = graft.operators.Analytics.AttrWindow
    events.groupByKey(_._1)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (uid: Long, it: Iterator[(Long, Long, String, Long, Long)],
            state: GroupState[(Long, Long)]) =>
          val sorted = it.toIndexedSeq.sortBy(_._2)
          var last = state.getOption
          val out = Seq.newBuilder[(Long, Long)]
          sorted.foreach { case (_, _, typ, eid, ts) =>
            if (typ == "click") last = Some((eid, ts))
            else last.foreach { case (cid, cts) =>
              if (cts > ts - win) out += ((cid, eid))
            }
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** q215: streaming CUSUM — q212's change-point alarm live. State per
    * type is the THREE-long tuple the recurrence needs (prefix sum P,
    * running min of P, alarm/peak accumulators are emitted per batch
    * instead): here (p, minp, n). Each micro-batch folds its seq-sorted
    * slice after the carried state and emits the slice's per-row
    * statistic rows (tsec, s) for the gate's batch-side report — all
    * arithmetic the same exact BIGINT micro-units as batch, so with a
    * (tsec, event_id)-ordered feed the emitted series equals q212's
    * window computation row for row, whatever the chunking. Input rows:
    * (event_type, seq, tsec, dev_q). Output (event_type, tsec, s). */
  def streamingCusum(events: Dataset[(String, Long, Long, Long)])
      : Dataset[(String, Long, Long)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (tp: String, it: Iterator[(String, Long, Long, Long)],
            state: GroupState[(Long, Long)]) =>
          val sorted = it.toIndexedSeq.sortBy(_._2)
          var (p, minp) = state.getOption.getOrElse((0L, 0L))
          val out = Seq.newBuilder[(String, Long, Long)]
          sorted.foreach { case (_, _, tsec, devQ) =>
            p += devQ
            if (p < minp) minp = p
            out += ((tp, tsec, p - math.min(minp, 0L)))
          }
          state.update((p, minp))
          out.result().iterator
      }
  }

  /** Streaming exact dedup — the streaming form of the q40 batch dedup:
    * emit only the FIRST-seen row per content hash across all
    * micro-batches; within a batch the lowest doc_id wins, so output is
    * deterministic under any partitioning. Keyed state is one boolean per
    * distinct hash, partitioned by the state store on the hash — the shape
    * that scales to a 100 TB corpus (a production deployment would bound
    * the state with a TTL/watermark for re-crawl windows). Input columns:
    * (doc_id long, text string). */
  def streamingDedup(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast("long"), sha2(col("text"), 256))
      .as[(Long, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (sha: String, rows: Iterator[(Long, String)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); Iterator(sha -> rows.map(_._1).min) }
      }
      .toDF("content_sha", "keep_id")
  }

  /** Streaming paragraph-level dedup — the streaming form of q141's
    * [[graft.ext.Corpus.dedupParagraphs]], extending the streaming-dedup
    * family a granularity down (doc-level [[streamingDedup]]/q85, bounded
    * near-dup q87). Two chained append-mode stateful stages (q87's
    * topology — start under [[GraftConf.withChainedStatefulStart]]):
    *  1. a first-seen registry keyed by the paragraph digest
    *     (flatMapGroupsWithState, state = one Boolean per digest; within
    *     a micro-batch the winner is the min (doc_id, pi) occurrence,
    *     across batches first-arrival wins — with a (doc_id, pi)-ordered
    *     feed that IS q141's global first-occurrence rule, which is what
    *     lets ONE oracle gate both execution modes);
    *  2. per-doc reassembly as a watermark-closed windowed aggregation
    *     (event time = doc_id seconds; each doc lives entirely inside its
    *     1-second window, so the window closes exactly when the
    *     watermark passes the doc) emitting q141's exact output row —
    *     counts + the polyhash of the kept paragraphs spliced in pi
    *     order.
    * Like [[streamingDedup]], the registry is unbounded by design (q87's
    * watermark-pruned registry is the bounded production form); state is
    * 16 bytes per DISTINCT paragraph, partitioned by digest. Input:
    * (doc_id, pi, para). */
  def streamingParaDedup(paras: DataFrame): DataFrame = {
    import paras.sparkSession.implicits._
    val flagged = paras
      .select(col("doc_id").cast("long"), col("pi").cast("long"), col("para"),
        md5(col("para").cast("binary")).as("pkey"))
      .as[(Long, Long, String, String)]
      .groupByKey(_._4)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(Long, Long, String, String)],
            state: GroupState[Boolean]) =>
          val rs = rows.toVector
          val winner = if (state.exists) None
            else Some(rs.map(r => (r._1, r._2)).min)
          if (!state.exists) state.update(true)
          rs.iterator.map(r => (r._1, r._2, r._3, winner.contains((r._1, r._2))))
      }
      .toDF("doc_id", "pi", "para", "keep")
    flagged
      .withColumn("ts", timestamp_seconds(col("doc_id")))
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 second"), col("doc_id"))
      .agg(count(lit(1)).as("paras_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("paras_kept"),
        graft.ext.TextOps.polyHash(
          expr("array_join(transform(sort_array(collect_list(" +
            "CASE WHEN keep THEN struct(pi, para) END)), x -> x.para), ' | ')"))
          .as("clean_hash"))
      .select(col("doc_id"), col("paras_total"), col("paras_kept"), col("clean_hash"))
  }

  /** Streaming exact dedup with BOUNDED state — the production form of
    * [[streamingDedup]], whose first-seen registry never expires. State
    * here is `dropDuplicatesWithinWatermark` on the content hash: a
    * hash's entry is dropped once the watermark passes its event time
    * plus `delay`, so steady-state memory is the watermark horizon's
    * traffic at any corpus size. The trade-offs are explicit: a duplicate
    * arriving AFTER the horizon re-emits (exactly-once-per-horizon, not
    * per-history — the periodic batch dedup passes catch the stragglers),
    * and unlike [[streamingDedup]]'s lowest-doc_id rule the SURVIVOR among
    * same-batch duplicates is arbitrary (whichever row the state store
    * sees first): content identity is the contract here, `keep_id` is
    * only a representative. Input: (doc_id long, ts timestamp, text). */
  def streamingDedupBounded(docs: DataFrame, delay: String = "1 hour"): DataFrame =
    docs.select(col("doc_id").cast("long"), col("ts"),
        sha2(col("text"), 256).as("content_sha"))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("content_sha")
      .select(col("content_sha"), col("doc_id").as("keep_id"))

  /** Streaming domain-mixture admission — the streaming form of q65's
    * budgeted sampling: each source keeps its running admitted-token count
    * as keyed state (ONE long per source, partitioned by the state store);
    * a doc is admitted while the count is still under the source's budget,
    * and the doc that crosses the boundary is kept — exactly q65's rule.
    * Within a micro-batch docs are processed in doc_id order so output is
    * deterministic under any partitioning; across batches arrival order IS
    * the ordering (a stream has no global content-hash sort — that is the
    * batch operator's job). Input columns: (doc_id long, source string,
    * n_tokens long). */
  def streamingBudgetAdmit(docs: DataFrame, budget: String => Long): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast("long"), col("source"), col("n_tokens").cast("long"))
      .as[(Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (src: String, rows: Iterator[(Long, String, Long)], state: GroupState[Long]) =>
          val cap = budget(src)
          var used = state.getOption.getOrElse(0L)
          val out = Seq.newBuilder[(Long, String, Long, Long)]
          rows.toSeq.sortBy(_._1).foreach { case (id, _, n) =>
            if (used < cap) { out += ((id, src, n, used)); used += n }
          }
          state.update(used)
          out.result().iterator
      }
      .toDF("doc_id", "source", "n_tokens", "start")
  }

  /** Streaming NEAR-dup admission — the streaming form of q47's exact
    * SimHash gate: admit a document only if no previously-arrived document
    * is within Hamming distance 3 of its 60-bit simhash. Two chained
    * append-mode stateful stages:
    *
    *  1. keyed by pigeonhole block (4 x 15-bit — d<=3 forces >=1 equal
    *     block, so recall is exact BY CONSTRUCTION, same argument as q47):
    *     state is the block's registry of (doc_id, simhash); each arrival
    *     is compared against the registry (then registered — even docs
    *     that another block will reject stay registered, the same static
    *     one-pass rule as q67) and emits a per-block verdict.
    *  2. keyed by doc_id: the 4 verdicts of a doc always land in the same
    *     micro-batch (stage 1 processes the whole batch), so the group
    *     iterator has all of them — admit iff no block matched.
    *
    * Within a batch, doc_id order inside each block group makes verdicts
    * deterministic; a doc never matches itself or same-batch LATER docs.
    * State is partitioned by the state store on the block key — the hot
    * 100 TB shape (per-block registries, never a global structure). This
    * variant keeps state FOREVER (exact-over-history semantics, usable for
    * bounded corpora); the production 100 TB form is
    * [[streamingNearDupAdmitBounded]], whose registries expire at the
    * watermark horizon. Input columns: (doc_id long, text string); output
    * (doc_id, admitted).
    */
  def streamingNearDupAdmit(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    import graft.ext.NearDup.HammingT
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sigs = docs.select(col("doc_id").cast("long"),
      call_function("graft_simhash", col("text")).as("simhash"))
    // the SAME block partition as batch q47 (see NearDup.simhashBlockKeys —
    // sharing the definition is what keeps the exact-recall argument valid)
    val blocks = sigs.select(col("doc_id"), col("simhash"),
        explode(graft.ext.NearDup.simhashBlockKeys(col("simhash"))).as("bk"))
      .select(col("doc_id"), col("simhash"),
        concat_ws(":", col("bk.blk"), col("bk.key")).as("block"))
      .as[(Long, Long, String)]
    val verdicts = blocks
      .groupByKey(_._3)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[(Long, Long, String)],
         state: GroupState[List[(Long, Long)]]) =>
          var registry = state.getOption.getOrElse(Nil)
          val out = Seq.newBuilder[(Long, Boolean)]
          // distinctBy: an at-least-once source can redeliver a doc within
          // ONE micro-batch — the copy must not self-match and veto the
          // original in stage 2 (cross-batch redelivery is handled there)
          rows.toSeq.sortBy(_._1).distinctBy(_._1).foreach { case (id, sig, _) =>
            // ONE registry walk answers both questions: any Hamming match,
            // and is this id already registered (a CROSS-batch redelivery
            // self-matches — stage 2 suppresses its verdict — but must not
            // append a duplicate entry on every redelivery, or the
            // never-expiring state would grow without bound)
            var matched = false
            var seen = false
            registry.foreach { case (rid, other) =>
              matched ||= java.lang.Long.bitCount(sig ^ other) <= HammingT
              seen ||= rid == id
            }
            out += ((id, matched))
            if (!seen) registry = (id, sig) :: registry
          }
          state.update(registry)
          out.result().iterator
      }
    verdicts
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (id: Long, vs: Iterator[(Long, Boolean)], state: GroupState[Boolean]) =>
          // all SimBlocks verdicts arrive in one batch; the state guards
          // against a replayed doc_id re-emitting
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator((id, !vs.exists(_._2)))
          }
      }
      .toDF("doc_id", "admitted")
  }

  /** Streaming NEAR-dup admission with BOUNDED state — the production form
    * of [[streamingNearDupAdmit]], whose registries never expire. Same
    * two-stage pigeonhole design and the SAME block partition as batch q47,
    * but every piece of state lives only within a re-crawl horizon:
    *
    *  - stage 1 prunes each block registry against the CURRENT event-time
    *    watermark on every invocation (an entry whose event time has fallen
    *    behind `watermark = max event time - delay` no longer vetoes
    *    anything), and sets an event-time timeout at the newest entry's
    *    expiry so a block that stops receiving traffic is REMOVED from the
    *    state store entirely — state never lingers just because no new doc
    *    happens to probe it.
    *  - stage 2's per-doc replay guard carries the doc's event time and
    *    expires on the same horizon.
    *
    * Steady-state memory is therefore (docs within the horizon) x 4 block
    * entries, independent of stream history — the shape that survives an
    * unbounded 100 TB crawl. The semantic trade-off is explicit and
    * intentional: a near-duplicate arriving AFTER its match has aged out of
    * the horizon is re-admitted (exactly-once-per-horizon, like
    * [[streamingDedupBounded]]); the periodic batch near-dup passes (q47)
    * catch cross-horizon stragglers. Input columns: (doc_id long,
    * ts timestamp, text string); output (doc_id, admitted).
    *
    * Starting a query over this plan requires
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled=false`
    * — scope it to the `start()` call via
    * [[GraftConf.withChainedStatefulStart]] so the session-global safety
    * check stays on for every other query:
    * the checker pattern-matches ANY stateful-after-stateful chain on the
    * possibility of stage 1 emitting late rows into stage 2. Here that
    * cannot happen — a verdict carries its doc's OWN event time and is
    * emitted in the doc's arrival micro-batch, and the stage-2 watermark
    * (like the global one) lags one batch behind the data that advanced it,
    * so every verdict arrives at stage 2 with event time >= the watermark
    * stage 2 evaluates it against. */
  def streamingNearDupAdmitBounded(docs: DataFrame, delay: String = "1 hour"): DataFrame = {
    import docs.sparkSession.implicits._
    import graft.ext.NearDup.HammingT
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val sigs = docs.select(col("doc_id").cast("long"), col("ts"),
      call_function("graft_simhash", col("text")).as("simhash"))
    val blocks = sigs.select(col("doc_id"), col("ts"), col("simhash"),
        explode(graft.ext.NearDup.simhashBlockKeys(col("simhash"))).as("bk"))
      .select(col("doc_id"), col("ts"), col("simhash"),
        concat_ws(":", col("bk.blk"), col("bk.key")).as("block"))
      .withWatermark("ts", delay)
      .as[(Long, java.sql.Timestamp, Long, String)]
    // stage-1 state entry: (doc_id, simhash, event-time millis)
    val verdicts = blocks
      .groupByKey(_._4)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[(Long, java.sql.Timestamp, Long, String)],
         state: GroupState[List[(Long, Long, Long)]]) =>
          if (state.hasTimedOut) {
            // watermark passed the NEWEST entry's expiry => every entry is
            // past the horizon; drop the whole registry from the store
            state.remove(); Iterator.empty
          } else {
            val wm = state.getCurrentWatermarkMs()
            var registry = state.getOption.getOrElse(Nil).filter(_._3 >= wm)
            val out = Seq.newBuilder[(Long, Boolean, java.sql.Timestamp)]
            rows.toSeq.sortBy(_._1).distinctBy(_._1).foreach { case (id, ts, sig, _) =>
              var matched = false
              var seen = false
              registry.foreach { case (rid, other, _) =>
                matched ||= java.lang.Long.bitCount(sig ^ other) <= HammingT
                seen ||= rid == id
              }
              out += ((id, matched, ts))
              if (!seen) registry = (id, sig, ts.getTime) :: registry
            }
            // rows is non-empty here (data invocation) and every unseen row
            // registers, so the registry cannot be empty at this point
            state.update(registry)
            // fire as soon as the watermark passes the NEWEST entry — at
            // that point every entry is older than the watermark and would
            // be pruned anyway, so the whole registry can go. (+1 ms: the
            // timeout must be strictly above the current watermark, and a
            // just-pruned registry can have max ts == watermark exactly)
            state.setTimeoutTimestamp(registry.map(_._3).max + 1L)
            out.result().iterator
          }
      }
    // the watermark TAG does not survive serialization through stage 1's
    // typed state function, so re-declare it on the verdict stream (the
    // verdicts carry each doc's own event time, emitted in the batch it
    // arrives, so this watermark tracks the source watermark exactly)
    verdicts.toDF("doc_id", "matched", "vts")
      .withWatermark("vts", delay)
      .as[(Long, Boolean, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout) {
        (id: Long, vs: Iterator[(Long, Boolean, java.sql.Timestamp)],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else if (state.exists) Iterator.empty // replay within the horizon
          else {
            val rows = vs.toSeq
            state.update(rows.head._3.getTime)
            // expire once the watermark passes the doc's own event time —
            // the same horizon its stage-1 registry entries live under
            state.setTimeoutTimestamp(rows.head._3.getTime + 1L)
            Iterator((id, !rows.exists(_._2)))
          }
      }
      .toDF("doc_id", "admitted")
  }

  /** Streaming budget admission with BOUNDED state — the production form of
    * [[streamingBudgetAdmit]] for sources that come and go: a source's
    * running-token counter expires once it has been idle past `delay` (the
    * event-time watermark horizon), so the state store holds one long per
    * RECENTLY ACTIVE source, not per source ever seen. Semantics change
    * accordingly: the budget is per activity window — a source idle longer
    * than the horizon starts a fresh window (re-crawl semantics, documented
    * like [[streamingDedupBounded]]). Input columns: (doc_id long,
    * source string, n_tokens long, ts timestamp). */
  def streamingBudgetAdmitBounded(docs: DataFrame, budget: String => Long,
      delay: String = "1 hour"): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id").cast("long"), col("source"),
        col("n_tokens").cast("long"), col("ts"))
      .withWatermark("ts", delay)
      .as[(Long, String, Long, java.sql.Timestamp)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout) {
        (src: String, rows: Iterator[(Long, String, Long, java.sql.Timestamp)],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val cap = budget(src)
            var used = state.getOption.getOrElse(0L)
            val rs = rows.toSeq
            val out = Seq.newBuilder[(Long, String, Long, Long)]
            rs.sortBy(_._1).foreach { case (id, _, n, _) =>
              if (used < cap) { out += ((id, src, n, used)); used += n }
            }
            state.update(used)
            // reset once the watermark passes the source's last event —
            // i.e. the source has been idle for one full horizon
            state.setTimeoutTimestamp(rs.map(_._4.getTime).max + 1L)
            out.result().iterator
          }
      }
      .toDF("doc_id", "source", "n_tokens", "start")
  }

  /** Watermarked stream-stream interval join — click→conversion
    * attribution: each conversion matches the clicks of the same user
    * whose event time is within `window` BEFORE it. Column contract:
    * `clicks(click_id, c_user_id, click_ts)`,
    * `conversions(conv_id, p_user_id, conv_ts, ...)` — distinct names on
    * purpose, so the join condition is unambiguous without aliases.
    *
    * Scale shape: both sides shuffle on the equality key (user), so join
    * state is partitioned like any other keyed stream; the time-range
    * condition plus the two watermarks BOUND the state — a click row is
    * evicted as soon as the conversion-side watermark passes
    * `click_ts + window`, so steady-state memory is (events within the
    * watermark horizon), not the whole history. Inner join ⇒ the emitted
    * rows equal the batch join exactly provided no input arrives later
    * than `delay` after its stream's max event time. */
  def attributionJoin(clicks: DataFrame, conversions: DataFrame,
      delay: String = "1 hour", window: String = "INTERVAL 30 MINUTES",
      joinType: String = "inner"): DataFrame =
    clicks.withWatermark("click_ts", delay)
      .join(conversions.withWatermark("conv_ts", delay),
        expr(s"c_user_id = p_user_id AND conv_ts >= click_ts" +
          s" AND conv_ts <= click_ts + $window"),
        joinType)

  /** Left-outer form of [[attributionJoin]]: every click emits — matched
    * pairs as they arrive, and an unmatched click with a NULL conversion
    * side once the watermark passes `click_ts + window` (the moment a
    * match becomes impossible; emitting earlier could contradict a
    * late-but-in-watermark purchase). State is evicted on the same
    * schedule, so the outer join holds no more state than the inner one —
    * the null-row emission IS the eviction. At 100 TB this is the
    * "un-attributed spend" half of attribution, which an inner join
    * silently drops. */
  def attributionJoinOuter(clicks: DataFrame, conversions: DataFrame,
      delay: String = "1 hour", window: String = "INTERVAL 30 MINUTES"): DataFrame =
    attributionJoin(clicks, conversions, delay, window, "leftOuter")

  /** FULL-outer form of [[attributionJoin]] — BOTH unmatched halves kept:
    * un-attributed clicks (NULL conversion side, q101's left-outer rows)
    * AND orphan conversions (NULL click side — a purchase with no click in
    * the preceding 30 minutes: broken tracking, cross-device journeys,
    * direct traffic). Each side's null-row emits once the watermark proves
    * its match window closed — for a click when the watermark passes
    * `click_ts + window`, for a conversion when it passes the latest
    * click_ts that could still match it — and that emission IS the state
    * eviction on that side, so full-outer state is bounded exactly like
    * the inner join's; the outer modes differ only in what is emitted at
    * eviction, never in what is retained. */
  def attributionJoinFull(clicks: DataFrame, conversions: DataFrame,
      delay: String = "1 hour", window: String = "INTERVAL 30 MINUTES"): DataFrame =
    attributionJoin(clicks, conversions, delay, window, "fullOuter")

  /** Streaming session windows — the streaming form of q24's batch
    * sessionization: per-user activity sessions with a `gap` inactivity
    * break, as a watermarked `session_window` aggregation. In append mode
    * a session emits only once the watermark passes its end (sessions are
    * the one window type that can GROW as events arrive — two sessions
    * merge when a bridging event lands — so nothing can be emitted while
    * still mergeable). State is keyed by (user, session) in the state
    * store; the watermark bounds how long a session can stay open. */
  def sessionizedCounts(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total_value"))
      .select(col("session_window.start").as("ss"),
        col("session_window.end").as("se"), col("user_id"), col("n"), col("total_value"))

  /** Event-time tumbling-window aggregation with a watermark — the
    * streaming form of q22 (late data beyond the watermark is dropped). */
  def windowedCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("total_value"))

  /** [[windowedCounts]] with OVERLAPPING windows (2-hour size, 1-hour
    * slide — q162's engine): every event lands in exactly two windows, so
    * state is 2x the tumbling form's but still watermark-bounded; append
    * mode emits each window once its end passes the watermark. The
    * sliding form is what rolling dashboards actually query (each hour's
    * row covers the trailing two hours). */
  def slidingWindowedCounts(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double").as("total_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("total_value"))
}
