package graft.cdc

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables

/** Generic JSON-payload change envelope (the shape a schema-less binlog feed
  * ships in; parsed per-table with from_json by the streaming topology). */
case class EnvelopeRow(op: String, table: String, next_position: Long,
    before_json: String, after_json: String)

/** Driver-gated CDC queries: exercise the change-feed → resolve → merge path
  * end-to-end with a SQL-expressible oracle (SURVEY.md §5 item 2).
  */
object CdcQueries {

  /** Register the shared `q245cat` graft catalog once per session and
    * return its warehouse root (creating the `prod` namespace) — ONE
    * definition for every SQL-catalog gate, so the registration cannot
    * drift between them. */
  private def graftCatRoot(s: SparkSession): String = {
    val root = s.conf.getOption("spark.sql.catalog.q245cat.root").getOrElse {
      val r = Files.createTempDirectory("graft_cat").toString
      s.conf.set("spark.sql.catalog.q245cat", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.q245cat.root", r)
      r
    }
    s.sql("CREATE NAMESPACE IF NOT EXISTS q245cat.prod")
    root
  }

  /** The SHARED q79 CDC lifecycle — inserts of every row (pos k*10), one
    * update batch that BOTH reprices (%7, x1.2) and group-moves (%13 →
    * 1-URGENT) at pos k*10+5, one delete batch (%11, post-update
    * before-images) at pos k*10+7. ONE definition feeds q79/q89 and the
    * q94/q97/q103/q104/q105 gates, so a lifecycle tweak cannot
    * desynchronize some Spark feeds from the oracles that replay the
    * same arithmetic. */
  private case class Lifecycle(orders: DataFrame, cur: DataFrame,
      batches: Seq[DataFrame])

  /** Whether `plan` reads the connector's scan of the table at `dir`. */
  private def readsDir(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      dir: String): Boolean =
    graft.sources.GraftBatchScan.readsOf(plan)
      .exists(_._1 == new org.apache.hadoop.fs.Path(dir).toUri.getPath)

  /** Whether the executed `df` read the index at `index` and pruned its
    * scan of the store at `store` at run time. */
  private def routedAtRunTime(df: DataFrame, store: String, index: String): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    readsDir(plan, index) && graft.sources.GraftBatchScan.readsOf(plan).exists {
      case (d, scan) =>
        d == new org.apache.hadoop.fs.Path(store).toUri.getPath && scan.runtimeFiltered
    }
  }

  private def lifecycle(s: SparkSession, dir: String): Lifecycle = {
    import s.implicits._
    val o = Tables.load(s, dir, "orders")
    def repriced(c: org.apache.spark.sql.Column) =
      when($"o_orderkey" % 7 === 0, c * 1.2).otherwise(c)
    def moved(c: org.apache.spark.sql.Column) =
      when($"o_orderkey" % 13 === 0, lit("1-URGENT")).otherwise(c)
    val cur = o
      .withColumn("o_totalprice", repriced($"o_totalprice"))
      .withColumn("o_orderpriority", moved($"o_orderpriority"))
    Lifecycle(o, cur, Seq(
      ChangeFeed.inserts(o, $"o_orderkey" * 10),
      ChangeFeed.updates(
        o.filter($"o_orderkey" % 7 === 0 || $"o_orderkey" % 13 === 0),
        Map("o_totalprice" -> repriced($"o_totalprice"),
          "o_orderpriority" -> moved($"o_orderpriority")),
        $"o_orderkey" * 10 + 5),
      ChangeFeed.deletes(cur.filter($"o_orderkey" % 11 === 0),
        $"o_orderkey" * 10 + 7)))
  }

  /** q89/q94's extension: a FOURTH batch deletes each group's current
    * minimum row (pos k*10+9) to force the min/max rescan path; `base` is
    * the final table state the rescan must recover from. */
  private def minmaxLifecycle(s: SparkSession, dir: String)
      : (Lifecycle, DataFrame) = {
    import s.implicits._
    val lc = lifecycle(s, dir)
    val afterDel = lc.cur.filter($"o_orderkey" % 11 =!= 0)
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice", $"o_orderkey")
    val minRows = afterDel.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).drop("rn")
    val base = afterDel.join(minRows.select($"o_orderkey"),
      Seq("o_orderkey"), "left_anti")
    (lc.copy(batches = lc.batches :+
      ChangeFeed.deletes(minRows, $"o_orderkey" * 10 + 9)), base)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Full CDC lifecycle over the orders table: insert everything, update
    // every 3rd key (+10% price), delete every 5th key, then REPLAY the whole
    // feed (at-least-once duplicate delivery). Final state must equal the
    // declarative oracle — proving last-writer-wins resolution, delete
    // semantics, and replay convergence in one gate.
    "q30_cdc_merge" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val feed = ChangeFeed.inserts(o, $"o_orderkey" * 10)
        .union(ChangeFeed.updates(
          o.filter($"o_orderkey" % 3 === 0),
          Map("o_totalprice" -> $"o_totalprice" * 1.1),
          $"o_orderkey" * 10 + 5))
        .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 5 === 0), $"o_orderkey" * 10 + 7))
      val replayed = feed.union(feed) // duplicate delivery must converge
      val target = Files.createTempDirectory("graft_cdc").toString + "/orders_state"
      CdcApplier.applyBatch(s, replayed, target, CdcApplier.Options(Seq("o_orderkey")))
      CdcApplier.snapshot(s, target)
        .select(o.columns.map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // Incremental merge: a full-table bootstrap batch followed by a small
    // second batch that touches a subset of PK-hash buckets; only those
    // bucket directories are rewritten (file-level assertion in
    // CdcApplierSpec F3.9). Final state must equal the declarative oracle.
    "q32_incremental_merge" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val target = Files.createTempDirectory("graft_cdc").toString + "/orders_inc"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), target, opts)
      val second = ChangeFeed.updates(
          o.filter($"o_orderkey" % 7 === 0),
          Map("o_totalprice" -> $"o_totalprice" * 1.2),
          $"o_orderkey" * 10 + 3)
        .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 11 === 0), $"o_orderkey" * 10 + 5))
      CdcApplier.applyBatch(s, second, target, opts)
      CdcApplier.snapshot(s, target)
        .select(o.columns.map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // Point lookup over the bucketed replica — the `Get` read pattern the
    // reference replicates into HBase FOR, served by partition pruning:
    // q32's lifecycle builds the target, then a bounded key batch (every
    // %250 key — the set deliberately spans updated %7 keys, deleted %11
    // keys, and one never-inserted key) is fetched via
    // CdcApplier.pointLookup. The gate proves lookups see exactly the
    // merged state (updates applied, tombstones and missing keys absent);
    // PlanSpec q110 locks that the scan prunes to the keys' bucket
    // directories instead of reading the table.
    "q110_point_lookup" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val target = Files.createTempDirectory("graft_cdc").toString + "/orders_pl"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), target, opts)
      val second = ChangeFeed.updates(
          o.filter($"o_orderkey" % 7 === 0),
          Map("o_totalprice" -> $"o_totalprice" * 1.2),
          $"o_orderkey" * 10 + 3)
        .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 11 === 0), $"o_orderkey" * 10 + 5))
      CdcApplier.applyBatch(s, second, target, opts)
      val keys = o.filter($"o_orderkey" % 250 === 0).select($"o_orderkey")
        .unionByName(s.range(1).select(lit(-1L).as("o_orderkey")))
      CdcApplier.pointLookup(s, target, keys)
        .select(o.columns.map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // Secondary index over the replicated store — the HBase-ecosystem read
    // path the reference's composite row keys exist to serve (S7 encodes
    // (value, pk) exactly so prefix scans find rows by a non-key value;
    // Astro exposed the same via its catalog). The index is ITSELF a graft
    // bucketed table: PK (o_custkey, o_orderkey), bucketed by the
    // o_custkey PREFIX (Options.bucketCols), and maintained INCREMENTALLY
    // from the SAME change envelope as the base store, just projected to
    // the two index columns — a custkey-changing update is, from the
    // index's perspective, a PK-moving update, so resolveBatch's S10
    // fan-out (delete@before-key + insert@after-key) retires the stale
    // entry with no index-specific code. Reads are two chained bucket-
    // pruned pointLookups (index prefix-scan -> base-store Get); neither
    // touches a full table, so at 100 TB a k-custkey query reads ≤k index
    // buckets + the matching store buckets. The oracle replays the
    // lifecycle declaratively — a stale index entry (extra or missing
    // orderkey) surfaces as a wrong final row set and breaks the hash.
    "q123_secondary_index" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val base = Files.createTempDirectory("graft_cdc").toString
      val store = base + "/orders_si"
      val index = base + "/orders_si_idx"
      val sopts = CdcApplier.Options(Seq("o_orderkey"))
      val iopts = CdcApplier.Options(Seq("o_custkey", "o_orderkey"),
        bucketCols = Some(Seq("o_custkey")))
      def indexFeed(changes: DataFrame): DataFrame =
        changes.select(col("op"), col("next_position"),
          when(col("before").isNotNull, struct(
            col("before.o_custkey").as("o_custkey"),
            col("before.o_orderkey").as("o_orderkey"))).as("before"),
          when(col("after").isNotNull, struct(
            col("after.o_custkey").as("o_custkey"),
            col("after.o_orderkey").as("o_orderkey"))).as("after"))
      val b1 = ChangeFeed.inserts(o, $"o_orderkey" * 10)
      val b2 = ChangeFeed.updates(o.filter($"o_orderkey" % 6 === 2),
          Map("o_custkey" -> ($"o_custkey" + 1)), $"o_orderkey" * 10 + 3)
        .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 9 === 1), $"o_orderkey" * 10 + 5))
      Seq(b1, b2).foreach { b =>
        CdcApplier.applyBatch(s, b, store, sopts)
        CdcApplier.applyBatch(s, indexFeed(b), index, iopts)
      }
      val custkeys = Seq(3L, 7L, 11L, 19L, 42L).toDF("o_custkey")
      val orderKeys = CdcApplier.pointLookup(s, index, custkeys).select($"o_orderkey")
      CdcApplier.pointLookup(s, store, orderKeys)
        .select(o.columns.map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // Merge-on-read lifecycle — the write-amplification complement of the
    // q30/q32 copy-on-write gates: three delta applies (appends only, the
    // existing bucket files are never rewritten) with a compaction in the
    // MIDDLE, read through resolve-on-read. Late updates after the
    // compaction, a delete landing on a compacted key, and the repriced
    // rows all must survive the storage-mode transitions — the oracle
    // replays the whole lifecycle declaratively.
    "q129_mor_merge" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val target = Files.createTempDirectory("graft_cdc").toString + "/orders_mor"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      CdcApplier.applyBatchMor(s,
        ChangeFeed.inserts(o, $"o_orderkey" * 10), target, opts)
      CdcApplier.applyBatchMor(s,
        ChangeFeed.updates(o.filter($"o_orderkey" % 4 === 1),
          Map("o_totalprice" -> ($"o_totalprice" * 1.3)), $"o_orderkey" * 10 + 2),
        target, opts)
      CdcApplier.compactMor(s, target)
      // batch 3's images reflect the CURRENT state (binlog updates carry
      // full row images, so the repricing must not be reverted)
      val cur = o.withColumn("o_totalprice",
        when($"o_orderkey" % 4 === 1, $"o_totalprice" * 1.3).otherwise($"o_totalprice"))
      CdcApplier.applyBatchMor(s,
        ChangeFeed.updates(cur.filter($"o_orderkey" % 10 === 3),
          Map("o_orderpriority" -> lit("2-HIGH")), $"o_orderkey" * 10 + 4)
          .union(ChangeFeed.deletes(cur.filter($"o_orderkey" % 8 === 6),
            $"o_orderkey" * 10 + 6)),
        target, opts)
      // OPTIMIZE rides the same oracle: the bin-packing pass coalesces the
      // accumulated delta files (state must be bit-identical through it —
      // versions and tombstones carried verbatim), so the gate fails if
      // the file rewrite ever loses or collapses a row.
      CdcApplier.optimize(s, target)
      CdcApplier.snapshot(s, target)
        .select(o.columns.map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // The REAL Structured Streaming path, gated by the DuckDB oracle: the
    // orders change feed is JSON-encoded into the generic envelope, fed
    // through MemoryStream in two micro-batches (bootstrap, then
    // updates+deletes), and applied by StreamingPipeline.startPerTable —
    // from_json per-table parse, checkpointed foreachBatch, incremental
    // bucketed merge. Final state must equal the declarative oracle.
    "q33_streaming_merge" -> ((s, dir) => graft.util.SmallBatches(s) {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val o = Tables.load(s, dir, "orders")

      // NOTE: the collect() below synthesizes the test feed — MemoryStream
      // data must originate on the driver. A production deployment reads the
      // envelope from a real source (Kafka/binlog tail); nothing in the
      // pipeline itself (startPerTable -> from_json -> applyBatch) touches
      // the driver with row data.
      def toEnvelope(changes: org.apache.spark.sql.DataFrame): Array[EnvelopeRow] =
        FeedMemo.toEnvelope(changes, "orders")

      val batch1 = FeedMemo.rows("orders_ins10", dir)(
        toEnvelope(ChangeFeed.inserts(o, $"o_orderkey" * 10)))
      val batch2 = toEnvelope(
        ChangeFeed.updates(o.filter($"o_orderkey" % 3 === 0),
          Map("o_totalprice" -> $"o_totalprice" * 1.1), $"o_orderkey" * 10 + 5)
          .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 5 === 0), $"o_orderkey" * 10 + 7)))

      val root = Files.createTempDirectory("graft_stream").toString
      val target = s"$root/orders_state"
      val src = MemoryStream[EnvelopeRow]
      val queries = graft.streaming.StreamingPipeline.startPerTable(
        src.toDF(), Map("orders" -> (o.schema, target)), s"$root/ckpt",
        _ => graft.streaming.StreamingPipeline.PipelineOptions(
          CdcApplier.Options(Seq("o_orderkey"))))
      // Chunked addData: each addData block ships to executors as one task
      // payload, and a whole sf0.1 envelope batch in one block is a ~26 MB
      // task (TaskSetManager warns above 1000 KiB; envelope rows carry
      // before+after JSON, ~400 B each, so 1500 rows ~= 600 KiB). Chunks
      // also give the micro-batch real read parallelism.
      def feed(rows: Array[EnvelopeRow]): Unit =
        rows.grouped(1500).foreach(c => src.addData(c.toIndexedSeq))
      try {
        feed(batch1)
        queries.values.foreach(_.processAllAvailable())
        feed(batch2)
        queries.values.foreach(_.processAllAvailable())
      } finally queries.values.foreach(_.stop())
      CdcApplier.snapshot(s, target)
        .select(o.columns.map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // ---- q163: snapshot-then-tail BOOTSTRAP — the recovery half of the
    //      purged-binlog guard (reference error-1236 semantics). Lifecycle:
    //      (1) stream the insert feed into the target; (2) while the
    //      pipeline is down the source moves on (reprice %3, delete %5) and
    //      PURGES that span of its log — the restarted pipeline must FAIL
    //      with the explicit rebootstrap-required error, asserted in-gate
    //      (a silent pass is a wrong result); (3) CdcApplier.bootstrap
    //      re-seeds the target from a consistent source read at position M,
    //      publishing seed + replay horizon + stream cursor in ONE
    //      whole-target swap (the cursor assertion below reads the
    //      atomically-published high-watermark); (4) the restarted stream
    //      (earliestPos = M+1 now satisfies the guard) tails events AFTER M
    //      (repriority %13, delete %17) PLUS a maliciously replayed
    //      pre-purge insert of the deleted %5 keys, which the seeded
    //      horizon discards instead of resurrecting. Final state must equal
    //      the oracle's declarative replay of the same algebra.
    "q163_bootstrap" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val o = Tables.load(s, dir, "orders")
      def toEnvelope(changes: org.apache.spark.sql.DataFrame): Array[EnvelopeRow] =
        FeedMemo.toEnvelope(changes, "orders")
      def feed(src: MemoryStream[EnvelopeRow], rows: Array[EnvelopeRow]): Unit =
        rows.grouped(1500).foreach(c => src.addData(c.toIndexedSeq))

      val root = Files.createTempDirectory("graft_boot").toString
      val target = s"$root/orders_state"
      val applierOpts = CdcApplier.Options(Seq("o_orderkey"))
      def startTail(src: MemoryStream[EnvelopeRow], ckpt: String,
          earliest: Option[Long]) =
        graft.streaming.StreamingPipeline.startPerTable(
          src.toDF(), Map("orders" -> (o.schema, target)), ckpt,
          _ => graft.streaming.StreamingPipeline.PipelineOptions(
            applierOpts, earliestPos = earliest))

      // (1) initial tail: inserts land, cursor = max(o_orderkey)*10
      val src1 = MemoryStream[EnvelopeRow]
      val q1 = startTail(src1, s"$root/ckpt1", None)
      try {
        feed(src1, toEnvelope(ChangeFeed.inserts(o, $"o_orderkey" * 10)))
        q1.values.foreach(_.processAllAvailable())
      } finally q1.values.foreach(_.stop())

      // (2) downtime drift, then the purge: the source now retains only
      // positions >= M, and the missed reprice/delete span is gone.
      val M = 100000000L
      val repriced = o.withColumn("o_totalprice",
        when($"o_orderkey" % 3 === 0, $"o_totalprice" * 1.1)
          .otherwise($"o_totalprice"))
      val sourceNow = repriced.filter($"o_orderkey" % 5 =!= 0)
      val src2 = MemoryStream[EnvelopeRow]
      val q2 = startTail(src2, s"$root/ckpt2", Some(M))
      val failedAsRequired =
        try {
          feed(src2, toEnvelope(ChangeFeed.updates(
            sourceNow.filter($"o_orderkey" % 13 === 0),
            Map("o_orderpriority" -> lit("1-URGENT")),
            $"o_orderkey" * 10 + 1 + M)))
          q2.values.foreach(_.processAllAvailable())
          false
        } catch {
          case e: Throwable =>
            Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
              .exists(c => Option(c.getMessage).exists(_.contains("rebootstrap required")))
        } finally q2.values.foreach(_.stop())
      require(failedAsRequired,
        "purged-gap restart did not fail with the rebootstrap-required error")

      // (3) the recovery op: consistent source read stamped at M
      CdcApplier.bootstrap(s, sourceNow, target, M, applierOpts)
      require(graft.streaming.StreamingPipeline.readHighWater(s, target).contains(M),
        "bootstrap did not publish the stream cursor with the seed")

      // (4) fresh tail from the new cursor; the stale pre-purge replay of
      // the %5 inserts (positions below M) must be discarded by the horizon
      val cur2 = sourceNow.withColumn("o_orderpriority",
        when($"o_orderkey" % 13 === 0, lit("1-URGENT")).otherwise($"o_orderpriority"))
      val src3 = MemoryStream[EnvelopeRow]
      val q3 = startTail(src3, s"$root/ckpt3", Some(M + 1))
      try {
        feed(src3, toEnvelope(
          ChangeFeed.updates(sourceNow.filter($"o_orderkey" % 13 === 0),
            Map("o_orderpriority" -> lit("1-URGENT")), $"o_orderkey" * 10 + 1 + M)
          .union(ChangeFeed.deletes(cur2.filter($"o_orderkey" % 17 === 0),
            $"o_orderkey" * 10 + 3 + M))
          .union(ChangeFeed.inserts(o.filter($"o_orderkey" % 5 === 0),
            $"o_orderkey" * 10))))
        q3.values.foreach(_.processAllAvailable())
      } finally q3.values.foreach(_.stop())
      CdcApplier.snapshot(s, target)
        .select(o.columns.map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // ---- q170: STREAMING secondary-index maintenance — q123's exact
    //      lifecycle (inserts, %6 custkey MOVES, %9 deletes; index keyed
    //      (o_custkey, o_orderkey) bucketed on the custkey prefix) run
    //      through StreamingPipeline.IndexSpec: the index applies in the
    //      SAME micro-batch as the primary from the same envelope with
    //      before/after projected — a moved custkey is a PK-moving update
    //      on the index and resolves to delete@old + upsert@new, so the
    //      post-stream two-step lookup (index pointLookup by custkey →
    //      store pointLookup by the resolved orderkeys) must see moves
    //      under their NEW custkey only. Shares q123's oracle verbatim
    //      (equal by construction — same envelope, same projection, same
    //      merges).
    "q170_stream_index" -> ((s, dir) => graft.util.SmallBatches(s) {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val o = Tables.load(s, dir, "orders")
      def toEnvelope(changes: org.apache.spark.sql.DataFrame): Array[EnvelopeRow] =
        FeedMemo.toEnvelope(changes, "orders")

      val root = Files.createTempDirectory("graft_sidx").toString
      val store = s"$root/orders_si"
      val index = s"$root/orders_si_idx"
      val sopts = CdcApplier.Options(Seq("o_orderkey"))
      val iopts = CdcApplier.Options(Seq("o_custkey", "o_orderkey"),
        bucketCols = Some(Seq("o_custkey")))
      val b1 = toEnvelope(ChangeFeed.inserts(o, $"o_orderkey" * 10))
      val b2 = toEnvelope(ChangeFeed.updates(o.filter($"o_orderkey" % 6 === 2),
          Map("o_custkey" -> ($"o_custkey" + 1)), $"o_orderkey" * 10 + 3)
        .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 9 === 1),
          $"o_orderkey" * 10 + 5)))

      val src = MemoryStream[EnvelopeRow]
      val queries = graft.streaming.StreamingPipeline.startPerTable(
        src.toDF(), Map("orders" -> (o.schema, store)), s"$root/ckpt",
        _ => graft.streaming.StreamingPipeline.PipelineOptions(sopts,
          indexes = Seq(graft.streaming.StreamingPipeline.IndexSpec(
            index, Seq("o_custkey", "o_orderkey"), iopts))))
      def feed(rows: Array[EnvelopeRow]): Unit =
        rows.grouped(1500).foreach(c => src.addData(c.toIndexedSeq))
      try {
        feed(b1)
        queries.values.foreach(_.processAllAvailable())
        feed(b2)
        queries.values.foreach(_.processAllAvailable())
      } finally queries.values.foreach(_.stop())

      val custkeys = Seq(3L, 7L, 11L, 19L, 42L).toDF("o_custkey")
      val orderKeys = CdcApplier.pointLookup(s, index, custkeys).select($"o_orderkey")
      CdcApplier.pointLookup(s, store, orderKeys)
        .select(o.columns.map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // ---- q171: resumable column BACKFILL — the UPDATE-analog of
    //      additive evolution (q160 adds the column as NULL; this
    //      populates it from an expression over existing columns, the
    //      lake formats' UPDATE SET col = expr). The gate itself
    //      exercises the incremental API: a bounded first slice
    //      (maxBuckets = 3) leaves the progress marker + mixed state,
    //      the second call resumes from the marker and completes —
    //      exactly the crash-resume path, driven deliberately. Oracle:
    //      the declarative projection over the base table.
    "q171_backfill" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val target = Files.createTempDirectory("graft_cdc").toString + "/orders_bf"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), target, opts)
      val first = CdcApplier.backfill(s, target, "o_fee",
        $"o_totalprice" * 0.05, maxBuckets = 3)
      require(first.size == 3, s"bounded slice must process 3 buckets, got $first")
      CdcApplier.backfill(s, target, "o_fee", $"o_totalprice" * 0.05)
      CdcApplier.snapshot(s, target)
        .select((o.columns :+ "o_fee").map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // ---- q174: incremental JOIN-view maintenance — the join member of
    //      the IVM family (q79 SUM/COUNT fold, q89 MIN/MAX rescan): a
    //      materialized orders ⋈ customer view maintained by affected-key
    //      recompute under CDC batches to BOTH tables. The lifecycle
    //      plants every hazard class: fact value updates (%7 reprice —
    //      view row updates), join-column MOVES (%13 custkey+1 — the view
    //      row switches partner, or DROPS when +1 lands past the last
    //      customer), dim value updates (%5 acctbal — ALL that customer's
    //      order rows update), dim deletes (%17 — all their order rows
    //      vanish). Cost per batch ∝ affected keys × join, never |view|.
    //      Oracle: the declarative final-state join.
    "q174_ivm_join" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val root = Files.createTempDirectory("graft_cdc").toString
      val fact = root + "/o"; val dim = root + "/c"; val view = root + "/v"
      val fopts = CdcApplier.Options(Seq("o_orderkey"))
      val dopts = CdcApplier.Options(Seq("c_custkey"))

      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), fact, fopts)
      CdcApplier.applyBatch(s, ChangeFeed.inserts(c, $"c_custkey" * 10), dim, dopts)
      IncrementalView.maintainJoinView(s, fact, dim, view, 1000000L,
        o.select($"o_orderkey"), c.select($"c_custkey"),
        "o_orderkey", "o_custkey", "c_custkey")

      // one combined image per touched fact key (q79's discipline: a key
      // hit by BOTH rules carries both changes in one winning image)
      val fcond = $"o_orderkey" % 7 === 0 || $"o_orderkey" % 13 === 0
      val fb = ChangeFeed.updates(o.filter(fcond),
        Map(
          "o_totalprice" -> when($"o_orderkey" % 7 === 0, $"o_totalprice" * 1.2)
            .otherwise($"o_totalprice"),
          "o_custkey" -> when($"o_orderkey" % 13 === 0, $"o_custkey" + 1)
            .otherwise($"o_custkey")),
        $"o_orderkey" * 10 + 5)
      val db = ChangeFeed.updates(
          c.filter($"c_custkey" % 5 === 0 && $"c_custkey" % 17 =!= 0),
          Map("c_acctbal" -> ($"c_acctbal" + 100.0)), $"c_custkey" * 10 + 5)
        .union(ChangeFeed.deletes(c.filter($"c_custkey" % 17 === 0),
          $"c_custkey" * 10 + 7))
      CdcApplier.applyBatch(s, fb, fact, fopts)
      CdcApplier.applyBatch(s, db, dim, dopts)
      IncrementalView.maintainJoinView(s, fact, dim, view, 2000000L,
        o.filter(fcond).select($"o_orderkey"),
        c.filter($"c_custkey" % 5 === 0 || $"c_custkey" % 17 === 0)
          .select($"c_custkey"),
        "o_orderkey", "o_custkey", "c_custkey")

      CdcApplier.snapshot(s, view).drop("_graft_pos")
        .select((o.columns ++ c.columns.filterNot(_ == "c_custkey"))
          .map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // ---- q176: incremental TOP-K view maintenance — the rank-slot
    //      member of the IVM family (q79 fold, q89 min/max = top-1
    //      rescan, q174 join): a per-priority top-3-by-price view keyed
    //      (priority, rank), maintained by affected-group rescan. The
    //      lifecycle plants the promotion hazard (deleting %11 keys —
    //      some of them current top rows — must promote rank-4 from
    //      below), group moves (%13 repriority touches BOTH groups), and
    //      in-group reorders (%7 reprice). Oracle: the final-state rank
    //      window.
    "q176_ivm_topk" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val root = Files.createTempDirectory("graft_cdc").toString
      val fact = root + "/o"; val view = root + "/v"
      val fopts = CdcApplier.Options(Seq("o_orderkey"))

      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), fact, fopts)
      IncrementalView.maintainTopKView(s, fact, view, 1000000L,
        o.select($"o_orderpriority"), "o_orderpriority", "o_totalprice",
        "o_orderkey", 3)

      val fcond = $"o_orderkey" % 7 === 0 || $"o_orderkey" % 13 === 0
      val fb = ChangeFeed.updates(o.filter(fcond),
          Map(
            "o_totalprice" -> when($"o_orderkey" % 7 === 0, $"o_totalprice" * 1.2)
              .otherwise($"o_totalprice"),
            "o_orderpriority" -> when($"o_orderkey" % 13 === 0, lit("5-LOW"))
              .otherwise($"o_orderpriority")),
          $"o_orderkey" * 10 + 5)
        .union(ChangeFeed.deletes(
          o.filter($"o_orderkey" % 11 === 0 && !($"o_orderkey" % 7 === 0
            || $"o_orderkey" % 13 === 0)),
          $"o_orderkey" * 10 + 7))
      CdcApplier.applyBatch(s, fb, fact, fopts)
      // affected groups: old priorities of every touched key, plus the
      // move target — exactly what a CDC batch's before+after yields
      val touched = o.filter(fcond ||
          ($"o_orderkey" % 11 === 0)).select($"o_orderpriority")
        .unionByName(Seq("5-LOW").toDF("o_orderpriority"))
      IncrementalView.maintainTopKView(s, fact, view, 2000000L,
        touched, "o_orderpriority", "o_totalprice", "o_orderkey", 3)

      CdcApplier.snapshot(s, view).drop("_graft_pos")
        .select($"o_orderpriority", $"rnk", $"o_orderkey", $"o_totalprice")
        .orderBy($"o_orderpriority", $"rnk")
    }),

    // ---- q217: the STREAMING deployment of q174's join view — the same
    //      lifecycle driven as TWO consolidated micro-batches (orders +
    //      customer changes in ONE envelope stream, the q93 topology)
    //      through IncrementalView.startJoinView's checkpointed
    //      foreachBatch, then the LAST micro-batch re-delivered straight
    //      into the batch body (the at-least-once crash replay). Replay
    //      guard here is the APPLIER's per-key position guard — the
    //      recomputed rows' positions no longer beat the stored ones, so
    //      the replay converges to a no-op (idempotence-by-position;
    //      contrast q219's non-idempotent fold, which needs the batch-id
    //      pointer). Batch-2 envelope positions ride a base offset
    //      (q138's b2base discipline) so view positions increase across
    //      micro-batches. Shares q174's oracle verbatim.
    "q217_stream_join_view" -> ((s, dir) => graft.util.SmallBatches(s) {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val root = Files.createTempDirectory("graft_sjv").toString
      val fact = root + "/o"; val dim = root + "/c"; val view = root + "/v"

      // Driver-feed synthesis, as in q33: MemoryStream data must originate
      // on the driver; the pipeline itself never collects row data.
      def toEnvelope(changes: org.apache.spark.sql.DataFrame, table: String): Array[EnvelopeRow] =
        FeedMemo.toEnvelope(changes, table)

      val b2base = 10000000L
      val fcond = $"o_orderkey" % 7 === 0 || $"o_orderkey" % 13 === 0
      val fb = ChangeFeed.updates(o.filter(fcond),
        Map(
          "o_totalprice" -> when($"o_orderkey" % 7 === 0, $"o_totalprice" * 1.2)
            .otherwise($"o_totalprice"),
          "o_custkey" -> when($"o_orderkey" % 13 === 0, $"o_custkey" + 1)
            .otherwise($"o_custkey")),
        $"o_orderkey" * 10 + 5 + b2base)
      val db = ChangeFeed.updates(
          c.filter($"c_custkey" % 5 === 0 && $"c_custkey" % 17 =!= 0),
          Map("c_acctbal" -> ($"c_acctbal" + 100.0)), $"c_custkey" * 10 + 5 + b2base)
        .union(ChangeFeed.deletes(c.filter($"c_custkey" % 17 === 0),
          $"c_custkey" * 10 + 7 + b2base))
      // feed synthesis memoized across bench samples (FeedMemo): the
      // arrays are pure functions of (recipe, dir); the lifecycle itself
      // re-runs fully per sample
      val envBatches = Seq(
        FeedMemo.rows("orders_ins10", dir)(
          toEnvelope(ChangeFeed.inserts(o, $"o_orderkey" * 10), "orders")) ++
          FeedMemo.rows("customer_ins10", dir)(
            toEnvelope(ChangeFeed.inserts(c, $"c_custkey" * 10), "customer")),
        FeedMemo.rows("q217_b2", dir)(
          toEnvelope(fb, "orders") ++ toEnvelope(db, "customer")))

      val src = MemoryStream[EnvelopeRow]
      val q = IncrementalView.startJoinView(src.toDF(),
        "orders", o.schema, "customer", c.schema, fact, dim, view, s"$root/ckpt",
        Seq("o_orderkey"), Seq("c_custkey"), "o_orderkey", "o_custkey", "c_custkey")
      // ONE addData per lifecycle batch (q115's discipline): the running
      // trigger may otherwise split a chunked feed into micro-batches whose
      // max positions are NON-monotone, violating the view-position feed
      // contract (and racing the dim store's bootstrap)
      try envBatches.foreach { rows =>
        src.addData(rows.toIndexedSeq)
        q.processAllAvailable() // one micro-batch per lifecycle batch
      } finally q.stop()

      // crash replay of the last micro-batch: exact no-op by position guard
      IncrementalView.applyJoinViewBatch(s,
        s.createDataset(envBatches.last.toIndexedSeq).toDF(),
        "orders", o.schema, "customer", c.schema, fact, dim, view,
        Seq("o_orderkey"), Seq("c_custkey"), "o_orderkey", "o_custkey", "c_custkey")

      CdcApplier.snapshot(s, view).drop("_graft_pos")
        .select((o.columns ++ c.columns.filterNot(_ == "c_custkey"))
          .map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // ---- q218: the STREAMING deployment of q176's top-k view — same
    //      affected-group rescan per micro-batch, exactly-once by the
    //      applier's position guard, last batch re-delivered. Shares
    //      q176's oracle verbatim.
    "q218_stream_topk_view" -> ((s, dir) => graft.util.SmallBatches(s) {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val o = Tables.load(s, dir, "orders")
      val root = Files.createTempDirectory("graft_stv").toString
      val fact = root + "/o"; val view = root + "/v"

      def toEnvelope(changes: org.apache.spark.sql.DataFrame): Array[EnvelopeRow] =
        FeedMemo.toEnvelope(changes, "orders")

      val b2base = 10000000L
      val fcond = $"o_orderkey" % 7 === 0 || $"o_orderkey" % 13 === 0
      val fb = ChangeFeed.updates(o.filter(fcond),
          Map(
            "o_totalprice" -> when($"o_orderkey" % 7 === 0, $"o_totalprice" * 1.2)
              .otherwise($"o_totalprice"),
            "o_orderpriority" -> when($"o_orderkey" % 13 === 0, lit("5-LOW"))
              .otherwise($"o_orderpriority")),
          $"o_orderkey" * 10 + 5 + b2base)
        .union(ChangeFeed.deletes(
          o.filter($"o_orderkey" % 11 === 0 && !($"o_orderkey" % 7 === 0
            || $"o_orderkey" % 13 === 0)),
          $"o_orderkey" * 10 + 7 + b2base))
      val envBatches = Seq(
        FeedMemo.rows("orders_ins10", dir)(
          toEnvelope(ChangeFeed.inserts(o, $"o_orderkey" * 10))),
        FeedMemo.rows("q218_b2", dir)(toEnvelope(fb)))

      def parse(df: DataFrame): DataFrame =
        df.select($"op", $"next_position",
          from_json($"before_json", o.schema).as("before"),
          from_json($"after_json", o.schema).as("after"))
      val src = MemoryStream[EnvelopeRow]
      val q = IncrementalView.startTopKView(parse(src.toDF()), fact, view,
        s"$root/ckpt", CdcApplier.Options(Seq("o_orderkey")),
        "o_orderpriority", "o_totalprice", "o_orderkey", 3)
      // ONE addData per lifecycle batch — same monotone-position feed
      // contract as q217
      try envBatches.foreach { rows =>
        src.addData(rows.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()

      // crash replay of the last micro-batch: exact no-op by position guard
      IncrementalView.applyTopKViewBatch(s,
        parse(s.createDataset(envBatches.last.toIndexedSeq).toDF()), fact, view,
        CdcApplier.Options(Seq("o_orderkey")),
        "o_orderpriority", "o_totalprice", "o_orderkey", 3)

      CdcApplier.snapshot(s, view).drop("_graft_pos")
        .select($"o_orderpriority", $"rnk", $"o_orderkey", $"o_totalprice")
        .orderBy($"o_orderpriority", $"rnk")
    }),

    // MOR as its own binlog — a downstream replica fed EXCLUSIVELY by
    // CdcApplier.changeFeed increments reconstructed from the primary's
    // delta files (op inferred from the version chain, before-images from
    // each key's previous version): replication WITHOUT tapping the
    // original source, the Delta-CDF/Hudi-incremental capability. Three
    // batches (inserts, reprice+delete, image-consistent repriority) flow
    // primary -> feed -> replica; the replica's final state must equal
    // the declarative oracle — a wrong op class, missing before-image, or
    // positional slip anywhere in the reconstruction breaks the hash.
    "q138_mor_changefeed" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val base = Files.createTempDirectory("graft_cdc").toString
      val src = base + "/orders_cf_src"
      val dst = base + "/orders_cf_dst"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      val b2base = 10000000L
      val b3base = 20000000L
      val cur1 = o.withColumn("o_totalprice",
        when($"o_orderkey" % 4 === 1, $"o_totalprice" * 1.3).otherwise($"o_totalprice"))
      val cur2 = cur1.filter($"o_orderkey" % 9 =!= 5)
      val batches = Seq(
        ChangeFeed.inserts(o, $"o_orderkey" * 10),
        ChangeFeed.updates(o.filter($"o_orderkey" % 4 === 1),
          Map("o_totalprice" -> ($"o_totalprice" * 1.3)),
          $"o_orderkey" * 10 + 2 + b2base)
          .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 9 === 5),
            $"o_orderkey" * 10 + 4 + b2base)),
        ChangeFeed.updates(cur2.filter($"o_orderkey" % 10 === 6),
          Map("o_orderpriority" -> lit("3-LOW")), $"o_orderkey" * 10 + 6 + b3base))
      val cursors = Seq(Long.MinValue, b2base - 1, b3base - 1)
      batches.zip(cursors).foreach { case (b, from) =>
        CdcApplier.applyBatchMor(s, b, src, opts)
        CdcApplier.applyBatch(s, CdcApplier.changeFeed(s, src, from), dst, opts)
      }
      CdcApplier.snapshot(s, dst)
        .select(o.columns.map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // FEED BUCKET PRUNING (q241): q138's replication chain extended with a
    // fourth, ONE-KEY batch — the incremental step that dominates a real
    // tail's life. changeFeed now prunes buckets off the per-bucket
    // position high-water marks applyBatchMor persists (bucketMaxPos in
    // .graft_meta): a touched key's older versions live in ITS bucket
    // (bucketing is by key), so the pruned read is complete for both the
    // touched-key scan and the version chains, and the per-trigger cost of
    // a streaming tail (q227) is the TOUCHED buckets, not the table. The
    // gate SELF-AUDITS the pruning (covered strictly < all for the one-key
    // cursor) and shares the replica-state decision procedure with q138 —
    // the final state must equal the declarative replay regardless of how
    // few buckets the feed planned. 100 TB: an idle table's tail costs one
    // metadata read; a one-key change costs one bucket.
    "q241_feed_pruning" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val base = Files.createTempDirectory("graft_cdc").toString
      val src = base + "/orders_fp_src"
      val dst = base + "/orders_fp_dst"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      val b2base = 10000000L
      val b3base = 20000000L
      val b4base = 30000000L
      val cur1 = o.withColumn("o_totalprice",
        when($"o_orderkey" % 4 === 1, $"o_totalprice" * 1.3).otherwise($"o_totalprice"))
      val cur2 = cur1.filter($"o_orderkey" % 9 =!= 5)
      val batches = Seq(
        ChangeFeed.inserts(o, $"o_orderkey" * 10),
        ChangeFeed.updates(o.filter($"o_orderkey" % 4 === 1),
          Map("o_totalprice" -> ($"o_totalprice" * 1.3)),
          $"o_orderkey" * 10 + 2 + b2base)
          .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 9 === 5),
            $"o_orderkey" * 10 + 4 + b2base)),
        ChangeFeed.updates(cur2.filter($"o_orderkey" % 10 === 6),
          Map("o_orderpriority" -> lit("3-LOW")), $"o_orderkey" * 10 + 6 + b3base))
      val cursors = Seq(Long.MinValue, b2base - 1, b3base - 1)
      batches.zip(cursors).foreach { case (b, from) =>
        CdcApplier.applyBatchMor(s, b, src, opts)
        CdcApplier.applyBatch(s, CdcApplier.changeFeed(s, src, from), dst, opts)
      }
      // the one-key tail step: the feed for this cursor must plan only
      // the touched key's bucket
      val minKey = o.agg(min($"o_orderkey")).first.getLong(0)
      val cur3 = cur2.withColumn("o_orderpriority",
        when($"o_orderkey" % 10 === 6, lit("3-LOW")).otherwise($"o_orderpriority"))
      CdcApplier.applyBatchMor(s,
        ChangeFeed.updates(cur3.filter($"o_orderkey" === minKey),
          Map("o_orderstatus" -> lit("Z")), lit(b4base)), src, opts)
      val (covered, all) = CdcApplier.changeFeedBuckets(s, src, b4base - 1)
      require(covered.size == 1 && all.size > 1,
        s"one-key feed must cover exactly one bucket, got $covered of $all")
      CdcApplier.applyBatch(s, CdcApplier.changeFeed(s, src, b4base - 1), dst, opts)
      CdcApplier.snapshot(s, dst)
        .select(o.columns.map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // q138 driven ENTIRELY through the SQL surface: the replica is fed by
    // connector reads — `.option("changesFrom", cursor)` switches the
    // relation to the reconstructed CDC envelope (Delta CDF's
    // table_changes on the graft surface), with changeFeed's mor/floor
    // guards and schema. Same three batches, same cursors; the replayed
    // envelope lands through the ordinary applier, so a wrong op class,
    // missing before-image, or positional slip in the CONNECTOR's
    // envelope breaks q138's shared oracle.
    "q225_sql_changefeed" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val base = Files.createTempDirectory("graft_cdc").toString
      val src = base + "/orders_scf_src"
      val dst = base + "/orders_scf_dst"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      val b2base = 10000000L
      val b3base = 20000000L
      val cur1 = o.withColumn("o_totalprice",
        when($"o_orderkey" % 4 === 1, $"o_totalprice" * 1.3).otherwise($"o_totalprice"))
      val cur2 = cur1.filter($"o_orderkey" % 9 =!= 5)
      val batches = Seq(
        ChangeFeed.inserts(o, $"o_orderkey" * 10),
        ChangeFeed.updates(o.filter($"o_orderkey" % 4 === 1),
          Map("o_totalprice" -> ($"o_totalprice" * 1.3)),
          $"o_orderkey" * 10 + 2 + b2base)
          .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 9 === 5),
            $"o_orderkey" * 10 + 4 + b2base)),
        ChangeFeed.updates(cur2.filter($"o_orderkey" % 10 === 6),
          Map("o_orderpriority" -> lit("3-LOW")), $"o_orderkey" * 10 + 6 + b3base))
      val cursors = Seq(Long.MinValue, b2base - 1, b3base - 1)
      batches.zip(cursors).foreach { case (b, from) =>
        CdcApplier.applyBatchMor(s, b, src, opts)
        val feed = s.read.format("graft").option("changesFrom", from).load(src)
        CdcApplier.applyBatch(s, feed, dst, opts)
      }
      CdcApplier.snapshot(s, dst)
        .select(o.columns.map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // STREAMING change-feed tail (q227): q225's replication chain driven
    // by a REAL `spark.readStream.format("graft")` query — the mor
    // primary's change feed arrives in micro-batches with offsets
    // checkpointed by Structured Streaming (GraftChangeFeedSource), and
    // each batch lands on the replica through the SAME applyBatch as the
    // binlog path. Offsets come from the maxPos high-water mark in
    // .graft_meta (one metadata read per trigger, zero data I/O); each
    // micro-batch reconstructs exactly the (start, end] envelope range, so
    // crash replay re-serves identical rows and the applier's LWW merge
    // makes redelivery a no-op. Final replica state = the lifecycle's
    // declarative image — q138's oracle gates it verbatim (one decision
    // procedure for the batch feed, the SQL feed, and the streaming tail).
    // 100 TB: per-trigger cost ∝ the new deltas (position-clustered files
    // → row-group skipping below the cursor), never the table.
    "q227_stream_changefeed" -> ((s, dir) => graft.util.SmallBatches(s) {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val base = Files.createTempDirectory("graft_cdc").toString
      val src = base + "/orders_stail_src"
      val dst = base + "/orders_stail_dst"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      val b2base = 10000000L
      val b3base = 20000000L
      val cur1 = o.withColumn("o_totalprice",
        when($"o_orderkey" % 4 === 1, $"o_totalprice" * 1.3).otherwise($"o_totalprice"))
      val cur2 = cur1.filter($"o_orderkey" % 9 =!= 5)
      val batches = Seq(
        ChangeFeed.inserts(o, $"o_orderkey" * 10),
        ChangeFeed.updates(o.filter($"o_orderkey" % 4 === 1),
          Map("o_totalprice" -> ($"o_totalprice" * 1.3)),
          $"o_orderkey" * 10 + 2 + b2base)
          .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 9 === 5),
            $"o_orderkey" * 10 + 4 + b2base)),
        ChangeFeed.updates(cur2.filter($"o_orderkey" % 10 === 6),
          Map("o_orderpriority" -> lit("3-LOW")), $"o_orderkey" * 10 + 6 + b3base))
      // the stream needs the layout to exist; batch 1 creates it
      CdcApplier.applyBatchMor(s, batches.head, src, opts)
      val tail = s.readStream.format("graft").load(src)
        .writeStream
        .option("checkpointLocation", base + "/ckpt")
        .foreachBatch { (feed: DataFrame, _: Long) =>
          CdcApplier.applyBatch(s, feed, dst, opts); ()
        }
        .start()
      try {
        tail.processAllAvailable()
        batches.tail.foreach { b =>
          CdcApplier.applyBatchMor(s, b, src, opts)
          tail.processAllAvailable()
        }
      } finally tail.stop()
      CdcApplier.snapshot(s, dst)
        .select(o.columns.map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // STREAM-SOURCE ADMISSION CONTROL (q284; Delta's maxFilesPerTrigger /
    // Kafka's maxOffsetsPerTrigger): without a cap, getOffset offers
    // everything since the cursor as ONE micro-batch — after downtime the
    // whole backlog lands as a single unbounded batch. With
    // `.option("maxPositionsPerTrigger", n)` each offered offset advances
    // at most n position units past the served cursor, so the backlog
    // drains as bounded batches. In-gate: the FULL q227 lifecycle lands on
    // the source BEFORE any tail runs (the downtime backlog), then a
    // capped tail drains it in >=3 micro-batches — with a MID-DRAIN stop
    // and a checkpoint-resumed second leg (the restart may interrupt an
    // apply mid-publish; the resumed single writer reclaims the fence,
    // the documented restart contract). Exactly-once is asserted by
    // ACCOUNTING, not just convergence: per-epoch row counts keyed by
    // batchId (a replayed epoch overwrites, never double-counts) must sum
    // to exactly the envelope's row count. Final state = q138's oracle —
    // byte-identical to the uncapped drain. 100 TB: a week-long backlog
    // on a hot table becomes bounded, checkpointed batches sized by the
    // deployment, with offsets still served from metadata alone.
    "q284_stream_admission" -> ((s, dir) => graft.util.SmallBatches(s) {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val base = Files.createTempDirectory("graft_cdc").toString
      val src = base + "/orders_adm_src"
      val dst = base + "/orders_adm_dst"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      val b2base = 10000000L
      val b3base = 20000000L
      val cur1 = o.withColumn("o_totalprice",
        when($"o_orderkey" % 4 === 1, $"o_totalprice" * 1.3).otherwise($"o_totalprice"))
      val cur2 = cur1.filter($"o_orderkey" % 9 =!= 5)
      val batches = Seq(
        ChangeFeed.inserts(o, $"o_orderkey" * 10),
        ChangeFeed.updates(o.filter($"o_orderkey" % 4 === 1),
          Map("o_totalprice" -> ($"o_totalprice" * 1.3)),
          $"o_orderkey" * 10 + 2 + b2base)
          .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 9 === 5),
            $"o_orderkey" * 10 + 4 + b2base)),
        ChangeFeed.updates(cur2.filter($"o_orderkey" % 10 === 6),
          Map("o_orderpriority" -> lit("3-LOW")), $"o_orderkey" * 10 + 6 + b3base))
      // the ENTIRE lifecycle lands before any tail runs — the backlog
      batches.foreach(b => CdcApplier.applyBatchMor(s, b, src, opts))
      // exactly-once baseline: the UNCAPPED feed's own row count (a key
      // hit twice inside one apply stores only its resolved version, so
      // the raw envelope input over-counts)
      val expectedRows = CdcApplier.changeFeed(s, src, Long.MinValue).count()
      // per-epoch accounting: batchId -> rows served in that epoch; a
      // replayed epoch OVERWRITES its entry (exactly-once bookkeeping)
      val seen = new java.util.concurrent.ConcurrentHashMap[java.lang.Long, java.lang.Long]()
      def startTail() = s.readStream.format("graft")
        .option("maxPositionsPerTrigger", 10000000L)
        .load(src)
        .writeStream
        .option("checkpointLocation", base + "/ckpt_adm")
        .foreachBatch { (feed: DataFrame, id: Long) =>
          val frame = feed.localCheckpoint()
          val n = frame.count()
          if (n > 0) {
            // the mid-drain stop below may interrupt an apply holding the
            // commit fence; the resumed single writer reclaims — the
            // documented restart contract (StreamingPipeline does the same)
            try CdcApplier.applyBatch(s, frame, dst, opts)
            catch {
              case _: CdcApplier.GraftConcurrentWriteException =>
                CdcApplier.reclaimCommit(s, dst)
                CdcApplier.applyBatch(s, frame, dst, opts)
            }
          }
          seen.put(id, n); ()
        }
        .start()
      // leg 1: drain only the first capped slice(s), stop MID-backlog
      val t1 = startTail()
      try {
        val deadline = System.currentTimeMillis() + 120000L
        while (seen.isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        require(!seen.isEmpty, "the first capped micro-batch must land")
      } finally t1.stop()
      // leg 2: resume from the checkpoint; the cap keeps slicing
      val t2 = startTail()
      try t2.processAllAvailable() finally t2.stop()
      val nBatches = seen.size()
      require(nBatches >= 3,
        s"the capped backlog must drain in >=3 micro-batches, got $nBatches")
      val served = {
        var s0 = 0L
        seen.values().forEach(v => s0 += v.longValue)
        s0
      }
      require(served == expectedRows,
        s"exactly-once accounting: served $served of $expectedRows envelope rows " +
          s"(epochs: ${
            import scala.jdk.CollectionConverters._
            seen.asScala.toSeq.sortBy(_._1.longValue)
              .map { case (k, v) => s"$k->$v" }.mkString(", ")})")
      CdcApplier.snapshot(s, dst)
        .select(o.columns.map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // ONE-QUERY REPLICATION (q228): the reference's entire runtime
    // topology — tail a change log (S1), apply with merge discipline
    // (S9-S12), checkpoint offsets (S14) — as a single Structured
    // Streaming query with ZERO custom code between source and sink:
    //   readStream.format("graft").load(src)
    //     .writeStream.format("graft").start(dst)
    // The source serves (start,end] envelope ranges off the maxPos
    // metadata cursor (q227); the sink recognizes the envelope shape and
    // lands each micro-batch through applyBatch — exactly-once WITHOUT
    // sink-side batch bookkeeping because positions make redelivery a
    // no-op (idempotence-by-position). Same lifecycle, same declarative
    // final state, same q138 oracle as the batch feed (q225) and the
    // foreachBatch tail (q227): one decision procedure for every
    // replication surface. 100 TB: per-trigger cost ∝ new deltas (source)
    // + touched buckets (sink).
    "q228_stream_replica" -> ((s, dir) => graft.util.SmallBatches(s) {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val base = Files.createTempDirectory("graft_cdc").toString
      val src = base + "/orders_repl_src"
      val dst = base + "/orders_repl_dst"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      val b2base = 10000000L
      val b3base = 20000000L
      val cur1 = o.withColumn("o_totalprice",
        when($"o_orderkey" % 4 === 1, $"o_totalprice" * 1.3).otherwise($"o_totalprice"))
      val cur2 = cur1.filter($"o_orderkey" % 9 =!= 5)
      val batches = Seq(
        ChangeFeed.inserts(o, $"o_orderkey" * 10),
        ChangeFeed.updates(o.filter($"o_orderkey" % 4 === 1),
          Map("o_totalprice" -> ($"o_totalprice" * 1.3)),
          $"o_orderkey" * 10 + 2 + b2base)
          .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 9 === 5),
            $"o_orderkey" * 10 + 4 + b2base)),
        ChangeFeed.updates(cur2.filter($"o_orderkey" % 10 === 6),
          Map("o_orderpriority" -> lit("3-LOW")), $"o_orderkey" * 10 + 6 + b3base))
      CdcApplier.applyBatchMor(s, batches.head, src, opts)
      val repl = s.readStream.format("graft").load(src)
        .writeStream.format("graft")
        .option("checkpointLocation", base + "/ckpt")
        .option("pk", "o_orderkey")
        .start(dst)
      try {
        repl.processAllAvailable()
        batches.tail.foreach { b =>
          CdcApplier.applyBatchMor(s, b, src, opts)
          repl.processAllAvailable()
        }
      } finally repl.stop()
      CdcApplier.snapshot(s, dst)
        .select(o.columns.map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // Temporal fact-to-SCD2 join — the warehouse pattern the history
    // exists FOR: each fact row (lineitem, at position key*10+line+1)
    // joins the dimension VERSION valid at its position, so facts
    // straddling the lifecycle's update (+5) and delete (+7) edges land
    // on different versions of the same key, and facts after the delete
    // drop out entirely. Plan: equi-join on the key with the interval
    // predicate as a residual — versions-per-key is bounded (≤3 here; the
    // update cadence at 100 TB), so the fan-out is a small constant, never
    // a range-join blowup. The oracle re-derives the interval decision
    // from the lifecycle arithmetic INDEPENDENTLY of Scd2.history — a
    // wrong interval edge in either place breaks the hash.
    "q136_temporal_join" -> ((s, dir) => {
      import s.implicits._
      val changes = lifecycle(s, dir).batches.reduce(_ unionByName _)
      val hist = Scd2.history(changes, "o_orderkey",
        Seq("o_totalprice", "o_orderpriority"))
      val facts = Tables.load(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber",
          ($"l_orderkey" * 10 + $"l_linenumber" + 1).as("fact_pos"))
      facts.join(hist,
          facts("l_orderkey") === hist("o_orderkey") &&
            hist("valid_from") <= facts("fact_pos") &&
            (hist("valid_to").isNull || facts("fact_pos") < hist("valid_to")))
        .select($"l_orderkey", $"l_linenumber", $"fact_pos",
          $"o_totalprice", $"o_orderpriority")
        .repartition(1).sortWithinPartitions($"l_orderkey", $"l_linenumber")
    }),

    // q136 executed as a REAL streaming query — facts arrive as a stream
    // and enrich against the SCD2 history via a stream-static inner join
    // (the static side re-resolves per micro-batch; here it is fixed, so
    // the result is exactly q136's relation and the SAME oracle gates
    // both). This is the deployment shape: the dimension history lives in
    // the lake, facts tail a feed, and each micro-batch joins key-equi
    // with the bounded per-key version fan-out — no streaming state at
    // all on the dimension side.
    "q137_stream_enrich" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val changes = lifecycle(s, dir).batches.reduce(_ unionByName _)
      val hist = Scd2.history(changes, "o_orderkey",
          Seq("o_totalprice", "o_orderpriority"))
        .localCheckpoint() // fixed static side: one resolution, every batch
      val facts = Tables.load(s, dir, "lineitem")
        .select($"l_orderkey", $"l_linenumber")
        .orderBy($"l_orderkey", $"l_linenumber")
        .as[(Long, Int)].collect()
      val src = MemoryStream[(Long, Int)]
      val streamed = src.toDF().toDF("l_orderkey", "l_linenumber")
        .withColumn("fact_pos", $"l_orderkey" * 10 + $"l_linenumber" + 1)
      val enriched = streamed.join(hist,
        streamed("l_orderkey") === hist("o_orderkey") &&
          hist("valid_from") <= streamed("fact_pos") &&
          (hist("valid_to").isNull || streamed("fact_pos") < hist("valid_to")))
      val qname = "q137_out_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val query = enriched
        .select($"l_orderkey", $"l_linenumber", $"fact_pos",
          $"o_totalprice", $"o_orderpriority")
        .writeStream.format("memory").queryName(qname).outputMode("append").start()
      try {
        facts.grouped(math.max(2000, (facts.length + 3) / 4)).foreach { c =>
          src.addData(c.toIndexedSeq); query.processAllAvailable()
        }
      } finally query.stop()
      val sunk = s.table(qname)
      val out = s.createDataFrame(
        java.util.Arrays.asList(sunk.collect(): _*), sunk.schema)
      s.catalog.dropTempView(qname)
      out.repartition(1)
        .sortWithinPartitions($"l_orderkey", $"l_linenumber")
    }),

    // Index-assisted targeted deletion — the right-to-be-forgotten pass a
    // training-data store must serve: erase EVERY row of a set of users
    // from a store keyed by event_id, without scanning the table. The
    // user_id secondary index (q123's machinery) turns each user into its
    // bounded event_id set; the delete feed is synthesized from the
    // affected rows and applied through the normal CDC path to BOTH the
    // store and the index (tombstones, touched-bucket rewrites only — at
    // 100 TB the erasure cost is the users' data, not the table). The
    // oracle replays declaratively; a surviving row or an over-delete
    // breaks the hash.
    "q135_forget" -> ((s, dir) => {
      import s.implicits._
      val e = Tables.load(s, dir, "events")
      val base = Files.createTempDirectory("graft_cdc").toString
      val store = base + "/events_f"
      val index = base + "/events_f_idx"
      val sopts = CdcApplier.Options(Seq("event_id"))
      val iopts = CdcApplier.Options(Seq("user_id", "event_id"),
        bucketCols = Some(Seq("user_id")))
      def indexFeed(changes: DataFrame): DataFrame =
        changes.select(col("op"), col("next_position"),
          when(col("before").isNotNull, struct(
            col("before.user_id").as("user_id"),
            col("before.event_id").as("event_id"))).as("before"),
          when(col("after").isNotNull, struct(
            col("after.user_id").as("user_id"),
            col("after.event_id").as("event_id"))).as("after"))
      val b1 = ChangeFeed.inserts(e, $"event_id" * 10)
      CdcApplier.applyBatch(s, b1, store, sopts)
      CdcApplier.applyBatch(s, indexFeed(b1), index, iopts)
      // forget these users: index prefix lookup -> their event ids ->
      // delete feed from the affected rows (no table scan anywhere)
      val users = Seq(7L, 13L, 42L).toDF("user_id")
      val ids = CdcApplier.pointLookup(s, index, users).select($"event_id")
      val affected = CdcApplier.snapshot(s, store)
        .join(broadcast(ids), Seq("event_id"), "left_semi")
        .select(e.columns.map(col).toIndexedSeq: _*)
      val del = ChangeFeed.deletes(affected, $"event_id" * 10 + lit(10000000L))
      CdcApplier.applyBatch(s, del, store, sopts)
      CdcApplier.applyBatch(s, indexFeed(del), index, iopts)
      CdcApplier.snapshot(s, store)
        .select(e.columns.map(col).toIndexedSeq: _*)
        .orderBy($"event_id")
    }),

    // RANGE-bucketed layout + range scan — the reference target's native
    // access path (HBase regions ARE rowkey ranges; S7 ordinal-orders
    // composite keys so scans hit contiguous regions). The store is
    // bootstrapped with split points; a BETWEEN query computes its
    // covering buckets by driver arithmetic over the persisted bounds and
    // reads ONLY those dirs, with the range predicate pushed for
    // row-group skipping. The lifecycle's updates and deletes land
    // through the same range-bucket assignment, so a writer/reader split
    // computation mismatch breaks the hash.
    "q134_range_scan" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val target = Files.createTempDirectory("graft_cdc").toString + "/orders_range"
      // split points scale with the key domain (quantile-ish); correctness
      // is independent of where the splits fall
      val maxKey = o.agg(max($"o_orderkey")).first.getLong(0)
      val bounds = (1 to 15).map(i => maxKey * i / 16)
      val opts = CdcApplier.Options(Seq("o_orderkey"), rangeBounds = Some(bounds))
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), target, opts)
      CdcApplier.applyBatch(s,
        ChangeFeed.updates(o.filter($"o_orderkey" % 5 === 1),
          Map("o_totalprice" -> ($"o_totalprice" * 1.35)), $"o_orderkey" * 10 + 3)
          .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 12 === 7),
            $"o_orderkey" * 10 + 5)),
        target, opts)
      CdcApplier.rangeLookup(s, target, 1000L, 3000L)
        .select(o.columns.map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // The graft DataSource V2 connector (r9 verdict ask #1): the engine's
    // layouts served to PLAIN SQL — `spark.read.format("graft")` — with the
    // same read guarantees the Scala entry points give. Three legs, each a
    // proven lifecycle re-read through the connector instead of its Scala
    // API, each leg's oracle body reused verbatim:
    //  - cow_in: q110's hash-bucketed COW lifecycle; a literal IN-list
    //    filter pushes through SupportsPushDownFilters, maps to bucket ids
    //    via the writer's own bucketExprCols, and the scan loads ONLY the
    //    covered bucket dirs (PlanSpec q216 + the corrupted-bucket spec
    //    prove the pruning is load-bearing).
    //  - range_between: q134's range-bucketed lifecycle; BETWEEN endpoints
    //    map to the covering CONTIGUOUS buckets by driver arithmetic over
    //    the persisted split points.
    //  - mor_full: the cow_in feed applied merge-on-read; the connector
    //    resolves latest-per-key + tombstones — the exact leak the old
    //    parquet-view Catalog.map had (superseded versions served to SQL).
    // 100 TB: legs 1-2 read |keys|/covering buckets, never the table; leg 3
    // adds one per-bucket latest-per-key window after pruning.
    // SQL WRITE surface (q226): the engine's tables accept hand-typed SQL —
    // df.write seeds the layout, INSERT INTO upserts, DELETE FROM
    // tombstones a pushed range, INSERT OVERWRITE replaces contents, and a
    // merge-on-read target records the SQL statements as ordinary change
    // history (served back through changesFrom). Every route funnels into
    // GraftWrites.insertInto/deleteWhere → the SAME applyBatch merge the
    // streaming applier uses: one shuffle on the bucket key, cost ∝ touched
    // buckets, tombstone/LWW semantics identical to the binlog path — a SQL
    // statement is just a change batch somebody typed.
    // 100 TB: the upsert touches only the %7 keys' buckets; the DELETE's
    // range predicate prunes to covering buckets before the tombstone scan;
    // only OVERWRITE reads the current live set (its semantics demand it).
    "q226_sql_write" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val base = Files.createTempDirectory("graft_cdc").toString
      o.createOrReplaceTempView("q226_orders")

      // leg 1 (cow): seed via df.write, upsert %7 via INSERT INTO (auto
      // position), tombstone a key range via DELETE FROM
      // positional INSERT lists follow the TABLE's served column order
      // (the layout's own schema is the truth, not the source's)
      def insertSql(table: String, priceExpr: String, posExpr: String,
          where: String): String = {
        val cols = s.table(table).columns.map {
          case "o_totalprice" => s"$priceExpr AS o_totalprice"
          case "_graft_pos"   => s"CAST($posExpr AS BIGINT) AS _graft_pos"
          case c              => c
        }
        s"INSERT INTO $table SELECT ${cols.mkString(", ")} FROM q226_orders WHERE $where"
      }

      val cow = base + "/orders_sqlw_cow"
      o.write.format("graft").option("pk", "o_orderkey")
        .option("buckets", "8").option("position", "10").mode("append").save(cow)
      s.sql("DROP TABLE IF EXISTS q226_cow")
      s.sql(s"CREATE TABLE q226_cow USING graft OPTIONS (path '$cow')")
      s.sql(insertSql("q226_cow", "o_totalprice * 1.2", "NULL", "o_orderkey % 7 = 0"))
      s.sql("DELETE FROM q226_cow WHERE o_orderkey BETWEEN 1000 AND 3000")
      val cowRead = s.sql("SELECT o_orderkey, o_totalprice, o_orderstatus FROM q226_cow")
        .select(lit("cow").as("leg"), $"o_orderkey", $"o_totalprice",
          $"o_orderstatus".as("tag"))

      // leg 2 (overwrite): replace-contents is ONE batch of tombstones +
      // inserts in the CDC algebra — not a directory wipe
      val ow = base + "/orders_sqlw_ow"
      o.filter($"o_orderkey" % 3 === 0).write.format("graft")
        .option("pk", "o_orderkey").option("position", "10")
        .mode("append").save(ow)
      s.sql("DROP TABLE IF EXISTS q226_ow")
      s.sql(s"CREATE TABLE q226_ow USING graft OPTIONS (path '$ow')")
      s.sql(insertSql("q226_ow", "o_totalprice * 2.0", "NULL", "o_orderkey % 4 = 0")
        .replaceFirst("INSERT INTO", "INSERT OVERWRITE"))
      val owRead = s.sql("SELECT o_orderkey, o_totalprice, o_orderstatus FROM q226_ow")
        .select(lit("ow").as("leg"), $"o_orderkey", $"o_totalprice",
          $"o_orderstatus".as("tag"))

      // leg 3 (mor): SQL writes ARE the change history — the per-row
      // _graft_pos column carries explicit positions in, and changesFrom
      // serves the statements back as envelopes
      val mor = base + "/orders_sqlw_mor"
      o.write.format("graft").option("pk", "o_orderkey")
        .option("storage", "mor").option("position", "100")
        .mode("append").save(mor)
      s.sql("DROP TABLE IF EXISTS q226_mor")
      s.sql(s"CREATE TABLE q226_mor USING graft OPTIONS (path '$mor')")
      s.sql(insertSql("q226_mor", "o_totalprice * 1.5", "200", "o_orderkey % 5 = 0"))
      val feed = s.read.format("graft").option("changesFrom", 150).load(mor)
        .select(lit("feed").as("leg"), $"after.o_orderkey".as("o_orderkey"),
          $"after.o_totalprice".as("o_totalprice"), $"op".as("tag"))

      s.sql("DROP TABLE IF EXISTS q226_cow")
      s.sql("DROP TABLE IF EXISTS q226_ow")
      s.sql("DROP TABLE IF EXISTS q226_mor")
      cowRead.unionByName(owRead).unionByName(feed)
        .orderBy($"leg", $"o_orderkey")
    }),

    // MATERIALIZED-VIEW REWRITE (q232): the optimizer half of the IVM
    // family — the engine maintains aggregate views incrementally
    // (q79/q97/q217-q219); GraftViewRewrite makes Catalyst SERVE them: a
    // Rule[LogicalPlan] (public extraOptimizations / extensions hook)
    // rewrites the matching count(*) aggregate over the base parquet into
    // a scan of the maintained view store, re-binding the original output
    // ExprIds. Matching is deliberately narrow (one group column, one
    // count(*), no filters, exact base path) — a too-eager rewrite is a
    // wrong-results generator. The gate SELF-AUDITS the fire (requires
    // the optimized plan contains no base-table scan), executes under the
    // registration (localCheckpoint), then unregisters so no other gate
    // sees the rule. 100 TB: a corpus-sized scan+shuffle collapses to a
    // groups-sized view read; that is the entire point of maintaining
    // the view.
    "q232_view_rewrite" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val viewDir = Files.createTempDirectory("graft_cdc").toString + "/orders_cnt_view"
      val viewRows = o.groupBy($"o_orderpriority").agg(count(lit(1)).as("cnt"))
      CdcApplier.applyBatch(s, ChangeFeed.inserts(viewRows, lit(1L)), viewDir,
        CdcApplier.Options(Seq("o_orderpriority"), numBuckets = 4))
      val basePath = dir + "/orders.parquet"
      graft.plans.GraftViewRewrite.install(s)
      graft.plans.GraftViewRewrite.register(basePath, "o_orderpriority", viewDir)
      try {
        val q = Tables.load(s, dir, "orders")
          .groupBy($"o_orderpriority").agg(count(lit(1)).as("cnt"))
        val opt = q.queryExecution.optimizedPlan
        require(!opt.toString.contains("Aggregate [") && readsDir(opt, viewDir),
          "view rewrite did not fire; plan still aggregates the base:\n" + opt)
        // execute UNDER the registration; the checkpointed result is what
        // the driver hashes
        q.orderBy($"o_orderpriority").localCheckpoint()
      } finally graft.plans.GraftViewRewrite.unregister(basePath, "o_orderpriority")
    }),

    // SQL MAINTENANCE (q240): the engine's maintenance operations as SQL
    // CALL procedures (ProcedureCatalog on GraftCatalog — the reference's
    // EP2 ops tooling as ANSI CALL statements): a mor lifecycle (seed,
    // reprice, range delete) followed by CALL compact (mode-aware version
    // collapse), CALL optimize (bin-packing), and CALL backfill (schema
    // evolution with a SQL-expression fill) — each dispatching to the SAME
    // CdcApplier entry point the Scala API uses, each state-preserving
    // (the final hash proves it: the oracle replays only the DML, so any
    // maintenance-induced drift fails the gate). 100 TB: the applier's
    // own bounded bucket rewrites; CALL adds name resolution only.
    "q240_sql_maintenance" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = Files.createTempDirectory("graft_cat").toString
      s.conf.set("spark.sql.catalog.q240cat", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.q240cat.root", whRoot)
      o.createOrReplaceTempView("q240_orders")
      s.sql("CREATE NAMESPACE IF NOT EXISTS q240cat.prod")
      // repeat-run safety (bench medianOf3): the catalog plugin is
      // CACHED by name, so a rerun lands in the first run's root —
      // drop the previous lifecycle's table
      s.sql("DROP TABLE IF EXISTS q240cat.prod.orders_t")
      s.sql(s"""CREATE TABLE q240cat.prod.orders_t (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8', storage 'mor')""")
      s.sql("""INSERT INTO q240cat.prod.orders_t
               SELECT *, CAST(NULL AS BIGINT) FROM q240_orders""")
      s.sql("""INSERT INTO q240cat.prod.orders_t
               SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.2,
                      o_orderdate, o_orderpriority, CAST(NULL AS BIGINT)
               FROM q240_orders WHERE o_orderkey % 7 = 0""")
      s.sql("DELETE FROM q240cat.prod.orders_t WHERE o_orderkey BETWEEN 1000 AND 3000")
      s.sql("CALL q240cat.system.compact(table => 'prod.orders_t')")
      s.sql("CALL q240cat.system.optimize(table => 'prod.orders_t')")
      s.sql("""CALL q240cat.system.backfill(table => 'prod.orders_t',
               column => 'price2x', expression => 'o_totalprice * 2')""")
      s.sql("""SELECT o_orderkey, o_totalprice, price2x
               FROM q240cat.prod.orders_t""")
        .orderBy($"o_orderkey")
    }),

    // STATS-VIEW REWRITE (q238): q232 widened to the full q89 stats-view
    // shape — ONE registered (base, group, value) view serves ANY
    // combination of COUNT(*)/SUM/MIN/MAX/AVG over the value column, each
    // aggregate mapped to its maintained column in one projection. SUM is
    // served as the view's decimal-exact sum cast to double (SUMD's
    // one-final-IEEE-step discipline), so the rewrite is reproducible
    // regardless of the base's aggregation order. Distinct/filtered/
    // wrong-column/wrong-type aggregates never match (ViewRewriteSpec
    // locks the near-misses) — narrowness IS the correctness guarantee.
    // 100 TB: a five-aggregate corpus scan+shuffle collapses to one
    // groups-sized read.
    "q238_stats_view_rewrite" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val viewDir = Files.createTempDirectory("graft_cdc").toString + "/orders_stats_view"
      val viewRows = IncrementalView.maintainMinMax(
        Seq(ChangeFeed.inserts(o, lit(1L))), o, "o_orderpriority", "o_totalprice")
      CdcApplier.applyBatch(s, ChangeFeed.inserts(viewRows, lit(1L)), viewDir,
        CdcApplier.Options(Seq("o_orderpriority"), numBuckets = 4))
      val basePath = dir + "/orders.parquet"
      graft.plans.GraftViewRewrite.install(s)
      graft.plans.GraftViewRewrite.registerStats(
        basePath, "o_orderpriority", "o_totalprice", viewDir)
      try {
        val q = Tables.load(s, dir, "orders")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("cnt"),
            sum($"o_totalprice").as("total"),
            min($"o_totalprice").as("mn"),
            max($"o_totalprice").as("mx"),
            avg($"o_totalprice").as("avg_price"))
        val opt = q.queryExecution.optimizedPlan
        require(!opt.toString.contains("Aggregate [") && readsDir(opt, viewDir),
          "stats-view rewrite did not fire; plan still aggregates the base:\n" + opt)
        q.orderBy($"o_orderpriority").localCheckpoint()
      } finally graft.plans.GraftViewRewrite.unregisterStats(
        basePath, "o_orderpriority", "o_totalprice")
    }),

    // WIDENED MV REWRITE (q247): the optimizer half now matches the rest
    // of its own IVM family. Leg 1 (join shape): a registered fact⋈dim
    // inner equi-join is served from the maintained JOIN-view store
    // (IncrementalView.maintainJoinView, q174/q217's machinery) — the
    // join AND both base scans disappear; the aggregate above runs
    // unchanged over re-bound attributes. Leg 2 (group subset): a query
    // grouping by a SUBSET of a registered stats view's grouping
    // re-aggregates the view — counts add, decimal-exact sums add, mins
    // of mins, and AVG re-derives as the exact total over the total count
    // in ONE double division. Both legs self-audit their optimized plans:
    // no base parquet path may survive. 100 TB: a corpus-sized join (or
    // group-by) collapses to view-sized work; the subset case means ONE
    // finer view serves every coarser dashboard rollup above it.
    "q247_view_rewrite_join_subset" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val root = Files.createTempDirectory("graft_cdc").toString
      val fact = root + "/o"; val dimT = root + "/c"
      val jview = root + "/jv"; val sview = root + "/sv"
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10),
        fact, CdcApplier.Options(Seq("o_orderkey")))
      CdcApplier.applyBatch(s, ChangeFeed.inserts(c, $"c_custkey" * 10),
        dimT, CdcApplier.Options(Seq("c_custkey")))
      IncrementalView.maintainJoinView(s, fact, dimT, jview, 1000000L,
        o.select($"o_orderkey"), c.select($"c_custkey"),
        "o_orderkey", "o_custkey", "c_custkey")
      val svRows = IncrementalView.maintainMinMax(
        Seq(ChangeFeed.inserts(o, lit(1L))), o,
        Seq("o_orderpriority", "o_orderstatus"), "o_totalprice")
      CdcApplier.applyBatch(s, ChangeFeed.inserts(svRows, lit(1L)), sview,
        CdcApplier.Options(Seq("o_orderpriority", "o_orderstatus"), numBuckets = 4))
      val oBase = dir + "/orders.parquet"
      val cBase = dir + "/customer.parquet"
      graft.plans.GraftViewRewrite.install(s)
      graft.plans.GraftViewRewrite.registerJoin(
        oBase, cBase, "o_custkey", "c_custkey", jview)
      graft.plans.GraftViewRewrite.registerStats(
        oBase, Seq("o_orderpriority", "o_orderstatus"), "o_totalprice", sview)
      try {
        val ja = Tables.load(s, dir, "orders")
          .join(Tables.load(s, dir, "customer"), $"o_custkey" === $"c_custkey")
          .groupBy($"c_nationkey")
          .agg(count(lit(1)).as("cnt"),
            graft.util.Sumd.sumd($"o_totalprice").as("total"))
          .select($"c_nationkey".cast("string").as("grp"), $"cnt", $"total")
        val jopt = ja.queryExecution.optimizedPlan
        require(!jopt.toString.contains("Join ") && readsDir(jopt, jview),
          "join rewrite did not fire; plan still joins the bases:\n" + jopt)
        val sa = Tables.load(s, dir, "orders")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("cnt"), sum($"o_totalprice").as("total"),
            min($"o_totalprice").as("mn"), max($"o_totalprice").as("mx"),
            avg($"o_totalprice").as("avg_price"))
        val sopt = sa.queryExecution.optimizedPlan
        require(readsDir(sopt, sview),
          "group-subset rewrite did not fire; plan still scans the base:\n" + sopt)
        ja.select($"grp", $"cnt", $"total",
            lit(null).cast("double").as("mn"), lit(null).cast("double").as("mx"),
            lit(null).cast("double").as("avg_price"))
          .withColumn("leg", lit("join"))
          .unionByName(sa.select($"o_orderpriority".as("grp"), $"cnt", $"total",
            $"mn", $"mx", $"avg_price").withColumn("leg", lit("stats")))
          .select($"leg", $"grp", $"cnt", $"total", $"mn", $"mx", $"avg_price")
          .orderBy($"leg", $"grp")
          .localCheckpoint()
      } finally {
        graft.plans.GraftViewRewrite.unregisterJoin(oBase, cBase)
        graft.plans.GraftViewRewrite.unregisterStats(
          oBase, Seq("o_orderpriority", "o_orderstatus"), "o_totalprice")
      }
    }),

    // CATALOG surface (q231): the full DDL+DML lifecycle through the V2
    // catalog plugin (GraftCatalog) with every statement addressed by
    // NAME — CREATE NAMESPACE / CREATE TABLE (layout from OPTIONS) /
    // INSERT (seed + upsert) / DELETE / ALTER TABLE ADD COLUMN (S4
    // additive evolution as DDL) / INSERT with the evolved schema /
    // SELECT. No path appears after the catalog root is configured; the
    // catalog holds no state of its own (a table IS its directory), so
    // every statement lands on the same applier/connector machinery the
    // path-addressed gates lock. 100 TB: identical to q226 — the catalog
    // adds name resolution, not a data path.
    "q231_catalog_sql" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = Files.createTempDirectory("graft_cat").toString
      s.conf.set("spark.sql.catalog.q231cat", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.q231cat.root", whRoot)
      o.createOrReplaceTempView("q231_orders")
      s.sql("CREATE NAMESPACE IF NOT EXISTS q231cat.prod")
      // repeat-run safety (bench medianOf3): the catalog plugin is
      // CACHED by name, so a rerun lands in the first run's root —
      // drop the previous lifecycle's table
      s.sql("DROP TABLE IF EXISTS q231cat.prod.orders_t")
      s.sql(s"""CREATE TABLE q231cat.prod.orders_t (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8')""")
      s.sql("""INSERT INTO q231cat.prod.orders_t
               SELECT *, CAST(NULL AS BIGINT) FROM q231_orders""")
      s.sql("""INSERT INTO q231cat.prod.orders_t
               SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.2,
                      o_orderdate, o_orderpriority, CAST(NULL AS BIGINT)
               FROM q231_orders WHERE o_orderkey % 7 = 0""")
      s.sql("DELETE FROM q231cat.prod.orders_t WHERE o_orderkey BETWEEN 1000 AND 3000")
      s.sql("ALTER TABLE q231cat.prod.orders_t ADD COLUMN flag STRING")
      // evolved columns append at the END of the served order — after
      // `_graft_pos` — so a positional INSERT lists them last (q288: the
      // append-at-end contract Spark's merge evolution remaps by)
      s.sql("""INSERT INTO q231cat.prod.orders_t
               SELECT 9999999L, o_custkey, o_orderstatus, 123.0,
                      o_orderdate, o_orderpriority, CAST(NULL AS BIGINT), 'evolved'
               FROM q231_orders
               WHERE o_orderkey = (SELECT min(o_orderkey) FROM q231_orders)""")
      s.sql("""SELECT o_orderkey, o_totalprice, o_orderstatus, flag
               FROM q231cat.prod.orders_t""")
        .orderBy($"o_orderkey")
    }),

    // ROW-LEVEL DML (q234): SQL UPDATE through the delta-based row-level
    // operation (SupportsRowLevelOperations + SupportsDelta,
    // sources/GraftRowLevel.scala) — Spark's own analyzer rewrites the
    // statement into target-scan + per-row verbs, the connector stages the
    // verbs in per-task parquet (never through the driver) and folds them
    // into ONE applier change batch: tombstones for retired keys at p,
    // upserts at p+1 (INSERT OVERWRITE's two-position discipline). The
    // second UPDATE moves PKs (SET o_orderkey = ...): the old key must
    // retire via tombstone and the row re-land under the new key — the
    // S9-S11 PK-move semantics (q30) surfaced as ANSI UPDATE. 100 TB:
    // cost ∝ changed rows + touched buckets; the staged delta is
    // distributed parquet, the merge is the applier's own.
    "q234_sql_update" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = Files.createTempDirectory("graft_cat").toString
      s.conf.set("spark.sql.catalog.q234cat", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.q234cat.root", whRoot)
      o.createOrReplaceTempView("q234_orders")
      s.sql("CREATE NAMESPACE IF NOT EXISTS q234cat.prod")
      // repeat-run safety (bench medianOf3): the catalog plugin is
      // CACHED by name, so a rerun lands in the first run's root —
      // drop the previous lifecycle's table
      s.sql("DROP TABLE IF EXISTS q234cat.prod.orders_t")
      s.sql(s"""CREATE TABLE q234cat.prod.orders_t (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8')""")
      s.sql("""INSERT INTO q234cat.prod.orders_t
               SELECT *, CAST(NULL AS BIGINT) FROM q234_orders""")
      // predicated non-PK update
      s.sql("""UPDATE q234cat.prod.orders_t
               SET o_totalprice = o_totalprice * 1.1, o_orderstatus = 'R'
               WHERE o_orderpriority = '1-URGENT'""")
      // PK-moving update: old keys retire, rows re-land under new keys
      s.sql("""UPDATE q234cat.prod.orders_t
               SET o_orderkey = o_orderkey + 10000000
               WHERE o_orderkey % 1000 = 0""")
      s.sql("""SELECT o_orderkey, o_totalprice, o_orderstatus
               FROM q234cat.prod.orders_t""")
        .orderBy($"o_orderkey")
    }),

    // ROW-LEVEL DML (q235): MERGE INTO with all three branch kinds in one
    // statement — conditional DELETE, UPDATE from source values, and
    // NOT-MATCHED INSERT — against a graft catalog table. One statement =
    // one applier batch; the merge's join is Spark's own rewrite (target
    // scan x source on the PK), so the 100 TB cost is the join plus
    // touched buckets, and every branch composes with history/change-feed
    // semantics because the fold IS the applier. Reference parity: the
    // consolidated S9-S11 apply expressed as the ANSI statement a SQL user
    // would actually type.
    "q235_sql_merge" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = Files.createTempDirectory("graft_cat").toString
      s.conf.set("spark.sql.catalog.q235cat", "graft.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.q235cat.root", whRoot)
      o.createOrReplaceTempView("q235_orders")
      s.sql("CREATE NAMESPACE IF NOT EXISTS q235cat.prod")
      // repeat-run safety (bench medianOf3): the catalog plugin is
      // CACHED by name, so a rerun lands in the first run's root —
      // drop the previous lifecycle's table
      s.sql("DROP TABLE IF EXISTS q235cat.prod.orders_t")
      s.sql(s"""CREATE TABLE q235cat.prod.orders_t (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8')""")
      s.sql("""INSERT INTO q235cat.prod.orders_t
               SELECT *, CAST(NULL AS BIGINT) FROM q235_orders""")
      // source: matched keys (%3) with their current price, plus brand-new
      // keys (+20M, %5) carrying tripled prices
      s.sql("""SELECT o_orderkey AS k, o_custkey, o_orderstatus,
                      o_totalprice AS amt, o_orderdate, o_orderpriority
               FROM q235_orders WHERE o_orderkey % 3 = 0
               UNION ALL
               SELECT o_orderkey + 20000000 AS k, o_custkey, o_orderstatus,
                      o_totalprice * 3 AS amt, o_orderdate, o_orderpriority
               FROM q235_orders WHERE o_orderkey % 5 = 0""")
        .createOrReplaceTempView("q235_src")
      s.sql("""MERGE INTO q235cat.prod.orders_t t USING q235_src s
               ON t.o_orderkey = s.k
               WHEN MATCHED AND s.k % 6 = 0 THEN DELETE
               WHEN MATCHED THEN
                 UPDATE SET o_totalprice = s.amt * 2.0, o_orderstatus = 'M'
               WHEN NOT MATCHED THEN
                 INSERT (o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                         o_orderdate, o_orderpriority, _graft_pos)
                 VALUES (s.k, s.o_custkey, 'I', s.amt, s.o_orderdate,
                         s.o_orderpriority, CAST(NULL AS BIGINT))""")
      s.sql("""SELECT o_orderkey, o_totalprice, o_orderstatus
               FROM q235cat.prod.orders_t""")
        .orderBy($"o_orderkey")
    }),

    // CONNECTOR STATISTICS (q236): the scan reports its covered-bucket
    // bytes as relation statistics (GraftBatchScan.estimateStatistics),
    // so Catalyst's JoinSelection sizes graft reads correctly — a
    // dimension-sized graft table joined to a fact auto-broadcasts with NO
    // hint. Without the override, relations
    // report defaultSizeInBytes (= infinite) and every graft join plans as
    // a shuffle — at 100 TB the difference between a map-side hash probe
    // and shuffling the fact table. The gate SELF-AUDITS the plan: the
    // hint-free join must pick BroadcastHashJoin with the graft scan on
    // the build side. Stats are post-pushdown (a point-pruned read of a
    // huge table reports one bucket's bytes), file-byte conservative on
    // mor.
    "q236_connector_stats" -> ((s, dir) => {
      import s.implicits._
      val n = Tables.load(s, dir, "nation")
      val c = Tables.load(s, dir, "customer")
      val dim = Files.createTempDirectory("graft_cdc").toString + "/nation_dim"
      CdcApplier.applyBatch(s, ChangeFeed.inserts(n, lit(1L)), dim,
        CdcApplier.Options(Seq("n_nationkey"), numBuckets = 4))
      val dimDf = s.read.format("graft").load(dim).drop("_graft_pos")
      val q = c.join(dimDf, $"c_nationkey" === $"n_nationkey")
        .groupBy($"n_name")
        .agg(count(lit(1)).as("cust_cnt"), sum($"c_custkey").as("key_sum"))
      val phys = q.queryExecution.executedPlan.toString
      require(phys.contains("BroadcastHashJoin") && !phys.contains("SortMergeJoin"),
        "connector stats must auto-broadcast the dimension:\n" + phys)
      q.orderBy($"n_name")
    }),

    // RUNTIME BUCKET PRUNING (q244): the connector's Batch leg implements
    // SupportsRuntimeFiltering, so Spark's dynamic-pruning machinery feeds
    // a JOIN's observed dimension keys into the SAME literal-keys→bucket
    // arithmetic the static pushdown uses — at execution time. Two legs,
    // both executing the join then auditing the FINAL plan: (hash) a
    // 6-key dimension filtered to 3 hot keys against a 16-bucket hash
    // fact — the runtime IN prunes to ≤3 buckets; (range) a dimension of
    // every key in [1200, 2800] against a range-split fact — min/max of
    // the runtime keys cover ≤2 of the 6 contiguous buckets, the layout's
    // scale story (ANY number of keys prunes, because range coverage is
    // endpoint arithmetic, not per-key hashing). The fallback leg (no
    // join) must read ALL buckets. Oracle = the plain joins on orders;
    // audit outcomes pinned as literals. 100 TB: this is Astro's
    // rowkey-prefix pruning in join form — a selective dim join touches
    // dim-sized bucket dirs, never the fact table.
    "q244_runtime_bucket_pruning" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val base = Files.createTempDirectory("graft_cdc").toString
      val hashFact = s"$base/fact_hash"
      val rangeFact = s"$base/fact_range"
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10),
        hashFact, CdcApplier.Options(Seq("o_orderkey"), numBuckets = 16))
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10),
        rangeFact, CdcApplier.Options(Seq("o_orderkey"),
          rangeBounds = Some(Seq(1000L, 2000L, 3000L, 4000L, 5000L))))
      def ratioOf(plan: String): (Int, Int) =
        """GraftBatchScan \S+ runtime-filterable buckets=(\d+)/(\d+)""".r
          .findFirstMatchIn(plan)
          .map(m => (m.group(1).toInt, m.group(2).toInt))
          .getOrElse(throw new IllegalStateException(
            s"no runtime-filterable graft scan in plan:\n$plan"))
      // hash leg: a tiny PARQUET dimension (a literal frame would fold to
      // a LocalRelation, and dynamic pruning requires a selective FILTER
      // on the dim side) — deterministic at every sf, broadcast-sized so
      // the pruning benefit check accepts
      Seq((1L, "hot"), (2L, "cold"), (3L, "hot"), (4L, "cold"),
        (5L, "cold"), (7L, "hot")).toDF("k", "flag")
        .repartition(1).write.parquet(s"$base/dim_hash")
      val dim = s.read.parquet(s"$base/dim_hash")
      val hashJoin = s.read.format("graft").load(hashFact)
        .join(dim, $"o_orderkey" === $"k").filter($"flag" === "hot")
        .select($"o_orderkey", $"o_totalprice")
      hashJoin.queryExecution.toRdd.count() // execute: runtime filter fires
      val (hm, hn) = ratioOf(hashJoin.queryExecution.executedPlan.toString)
      require(hn == 16 && hm <= 3,
        s"3 hot keys must prune a 16-bucket hash fact to <=3 buckets, read $hm/$hn")
      // range leg: the dimension is every fact key in one band — collected
      // into a LOCAL frame (bounded by the band) so the dim side is
      // broadcast-sized; endpoint arithmetic prunes regardless of key count
      val bandKeys = o.filter($"o_orderkey".between(1200L, 2800L))
        .select($"o_orderkey").as[Long].collect().toIndexedSeq
      bandKeys.map((_, "hot")).toDF("k", "flag")
        .repartition(1).write.parquet(s"$base/dim_range")
      val dimR = s.read.parquet(s"$base/dim_range")
      val rangeJoin = s.read.format("graft").load(rangeFact)
        .join(dimR, $"o_orderkey" === $"k").filter($"flag" === "hot")
        .select($"o_orderkey", $"o_totalprice")
      rangeJoin.queryExecution.toRdd.count()
      val (rm, rn) = ratioOf(rangeJoin.queryExecution.executedPlan.toString)
      // the band spans two split points, so at most 2 covered buckets; at
      // tiny sf fewer range buckets are POPULATED (dense keys stop early),
      // hence the relative bound
      require(rm <= 2 && rm < rn,
        s"a [1200,2800] key band must prune the range fact to <=2 buckets, read $rm/$rn")
      // fallback: with no runtime keys a full read plans ALL buckets (the
      // sum refuses footer pushdown, so this is the row-level Batch leg)
      val full = s.read.format("graft").load(hashFact)
        .agg(sum($"o_orderkey").as("t"))
      full.queryExecution.toRdd.count()
      val (fm, fn) = ratioOf(full.queryExecution.executedPlan.toString)
      require(fm == fn && fn == 16,
        s"the no-filter leg must read every bucket, read $fm/$fn")
      hashJoin.select(lit("hash").as("leg"), $"o_orderkey", $"o_totalprice")
        .unionByName(rangeJoin.select(lit("range").as("leg"), $"o_orderkey",
          $"o_totalprice"))
        .withColumn("runtime_pruned", lit(hm <= 3 && rm <= 2))
        .withColumn("fullscan_reads_all", lit(fm == fn))
        .orderBy($"leg", $"o_orderkey")
    }),

    // CONNECTOR AGGREGATE + LIMIT PUSHDOWN (q246): a global
    // COUNT/MIN/MAX over a mapped copy-on-write graft table is answered
    // from parquet FOOTER statistics alone (SupportsPushDownAggregates →
    // GraftAggScan: one per-file statistics row, Spark's final aggregate
    // merges) — q139's metadata-only stats pass, now behind the connector.
    // Three legs, self-auditing their plans: (cow) footer-only — the plan
    // must show GraftAggScan and NO row-level GraftRelation read; (mor)
    // the SAME aggregates against a merge-on-read target with deletes —
    // pushdown must REFUSE (resolution changes every answer) and the full
    // resolve serve it; (limit) a pushed LIMIT large enough to keep the
    // result deterministic — the scan label must carry `limit=`. The %3
    // update nulls o_custkey so COUNT(col) exercises footer null counts.
    // 100 TB: the cow leg reads zero data pages; refusal legs fall back to
    // the ordinary scan, so the pushdown can never trade speed for truth.
    "q246_connector_agg_pushdown" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val base = Files.createTempDirectory("graft_cdc").toString
      val cow = s"$base/orders_agg_cow"
      val mor = s"$base/orders_agg_mor"
      val opts = CdcApplier.Options(Seq("o_orderkey"), numBuckets = 8)
      val ins = ChangeFeed.inserts(o, $"o_orderkey" * 10)
      val upd = ChangeFeed.updates(o.filter($"o_orderkey" % 3 === 0),
        Map("o_totalprice" -> ($"o_totalprice" * 1.1),
          "o_custkey" -> lit(null).cast("bigint")),
        $"o_orderkey" * 10 + 5)
      CdcApplier.applyBatch(s, ins, cow, opts)
      CdcApplier.applyBatch(s, upd, cow, opts)
      CdcApplier.applyBatchMor(s, ins, mor, opts)
      CdcApplier.applyBatchMor(s, upd, mor, opts)
      CdcApplier.applyBatchMor(s,
        ChangeFeed.deletes(o.filter($"o_orderkey" % 5 === 0),
          $"o_orderkey" * 10 + 7), mor, opts)
      def aggs(df: DataFrame): DataFrame = df.agg(
        count(lit(1)).as("n"), count($"o_custkey").as("n_ck"),
        min($"o_orderkey").as("min_ok"), max($"o_orderkey").as("max_ok"),
        min($"o_totalprice").as("min_px"), max($"o_totalprice").as("max_px"))
      val cowAgg = aggs(s.read.format("graft").load(cow))
      val cowPlan = cowAgg.queryExecution.executedPlan.toString
      require(cowPlan.contains("GraftAggRelation(") && !cowPlan.contains("GraftRelation("),
        "cow aggregates must be footer-only (no row-level read):\n" + cowPlan)
      val morAgg = aggs(s.read.format("graft").load(mor))
      val morPlan = morAgg.queryExecution.executedPlan.toString
      require(!morPlan.contains("GraftAggRelation(") &&
          morPlan.contains("GraftBatchScan"),
        "mor aggregates must refuse footer pushdown and fully resolve " +
          "(the q244 Batch leg serves the unpruned read):\n" + morPlan)
      val limAgg = aggs(s.read.format("graft").load(cow).limit(10000000))
      val limPlan = limAgg.queryExecution.executedPlan.toString
      require(limPlan.contains("limit=10000000"),
        "the LIMIT must push into the connector scan:\n" + limPlan)
      cowAgg.select(lit("cow").as("leg"), $"*")
        .unionByName(limAgg.select(lit("limit").as("leg"), $"*"))
        .unionByName(morAgg.select(lit("mor").as("leg"), $"*"))
        .orderBy($"leg")
    }),

    // FILE-LEVEL DATA SKIPPING (q250): per-file min/max/null-count sidecars
    // collected at every publish ([[FileStats]]; Delta/Iceberg's add-file
    // statistics, public design point), consumed by both connector legs to
    // skip whole files whose ranges exclude a pushed predicate — closing
    // the non-key read gap: bucket pruning is KEY-only, so a status/date/
    // price filter used to list and open EVERY file in EVERY bucket before
    // row-group stats engaged. Two legs, both auditing kept<total from the
    // executed plan: (cow) a price predicate after a CLUSTERED optimize
    // (clusterBy=o_totalprice — Delta's OPTIMIZE ZORDER BY, linear form:
    // each file covers a narrow price interval, so the predicate keeps only
    // the top slice); (mor) key-banded delta batches — the auto-increment
    // CDC shape — where a recent-keys range query skips the historical
    // delta files even though hash bucketing cannot prune (mor skips on
    // PK-referencing predicates ONLY: a key's versions agree on its PK, so
    // a skipped file holds no version of any surviving key). Oracle: the
    // post-update table under the same predicates (the mor threshold is the
    // pure-integer form `k*10 > 9*max(k)` — no division, no doubles — so
    // both engines derive the identical cut). 100 TB: reads touch the files
    // a predicate can match, not the bucket's history; stats are collected
    // once per file at WRITE time (one footer open, amortized), never per
    // query.
    "q250_file_skipping" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val base = Files.createTempDirectory("graft_cdc").toString
      val opts = CdcApplier.Options(Seq("o_orderkey"), numBuckets = 8)
      def filesRatio(plan: String): (Int, Int) =
        """GraftBatchScan \S+ runtime-filterable buckets=\d+/\d+ files=(\d+)/(\d+)""".r
          .findFirstMatchIn(plan)
          .map(m => (m.group(1).toInt, m.group(2).toInt))
          .getOrElse(throw new IllegalStateException(
            s"no file-skipping graft scan in plan:\n$plan"))
      // cow leg: insert + update lifecycle, then cluster by the NON-KEY
      // predicate column; bins sized relative to the table so the layout
      // holds ~3 files per bucket at every sf
      val cow = s"$base/orders_skip_cow"
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), cow, opts)
      CdcApplier.applyBatch(s, ChangeFeed.updates(o.filter($"o_orderkey" % 3 === 0),
        Map("o_totalprice" -> ($"o_totalprice" * 1.1)), $"o_orderkey" * 10 + 5),
        cow, opts)
      val fs = new org.apache.hadoop.fs.Path(cow)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val cowBytes = CdcApplier.bucketIds(fs, new org.apache.hadoop.fs.Path(cow))
        .map { b =>
          fs.listStatus(new org.apache.hadoop.fs.Path(cow, s"${CdcApplier.BUCKET}=$b"))
            .filter(FileStats.isDataFile).map(_.getLen).sum
        }.sum
      CdcApplier.optimize(s, cow, targetFileBytes = math.max(8L << 10, cowBytes / 24),
        clusterBy = Seq("o_totalprice"))
      val cowQ = s.read.format("graft").load(cow)
        .filter($"o_totalprice" > 400000.0)
        .select(lit("cow").as("leg"), $"o_orderkey", $"o_totalprice".as("px"))
      cowQ.queryExecution.toRdd.count()
      val (ck, cn) = filesRatio(cowQ.queryExecution.executedPlan.toString)
      require(ck < cn && cn > 8,
        s"a clustered price predicate must open strictly fewer files, read $ck/$cn")
      // mor leg: three key-banded delta batches (the auto-increment shape);
      // the recent-keys query must skip the historical bands' delta files
      val mor = s"$base/orders_skip_mor"
      val maxK = o.agg(max($"o_orderkey")).as[Long].head()
      val b1 = o.filter($"o_orderkey" <= maxK / 3)
      val b2 = o.filter($"o_orderkey" > maxK / 3 && $"o_orderkey" <= 2 * maxK / 3)
      val b3 = o.filter($"o_orderkey" > 2 * maxK / 3)
      CdcApplier.applyBatchMor(s, ChangeFeed.inserts(b1, $"o_orderkey" * 10), mor, opts)
      CdcApplier.applyBatchMor(s, ChangeFeed.inserts(b2, $"o_orderkey" * 10), mor, opts)
      CdcApplier.applyBatchMor(s, ChangeFeed.inserts(b3, $"o_orderkey" * 10), mor, opts)
      // pure-integer threshold: k*10 > 9*maxK  ⟺  k >= 9*maxK/10 + 1
      val thr = 9L * maxK / 10L + 1L
      val morQ = s.read.format("graft").load(mor)
        .filter($"o_orderkey" >= thr)
        .select(lit("mor").as("leg"), $"o_orderkey", $"o_totalprice".as("px"))
      morQ.queryExecution.toRdd.count()
      val (mk, mn) = filesRatio(morQ.queryExecution.executedPlan.toString)
      require(mk < mn,
        s"a recent-keys range query must skip historical delta files, read $mk/$mn")
      cowQ.unionByName(morQ)
        .withColumn("file_skipped", lit(ck < cn && mk < mn))
        .orderBy($"leg", $"o_orderkey")
    }),

    // TYPE-WIDENING SCHEMA EVOLUTION (q253; public design point: Delta
    // Lake type widening): the common production DDL is a LOSSLESS widen
    // (int→bigint, float→double, decimal precision growth) — S4's drift
    // guard used to fail it like a narrowing. Lifecycle: (1) insert with
    // qty INT; (2) a bigint-schema update batch whose values NEED the
    // width — the applier accepts the widen and rewrites the table at
    // bigint (table-wide, the additive path's discipline); (3) an
    // OLD-SCHEMA int batch arrives after the widen (the replay shape) —
    // upcast into the widened column, convergence intact. Refusal legs
    // stay refusals, spec-pinned here as in-gate requires: a cross-family
    // retype (int→string) still drifts; merge-on-read refuses widening
    // outright (mixed-type delta files cannot merge-read). Oracle: the
    // final state replayed with CAST AS BIGINT. 100 TB: the widen costs
    // ONE table rewrite — exactly what the DDL means — and replays cost a
    // projection cast, never a migration.
    "q253_type_widening" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val base = Files.createTempDirectory("graft_cdc").toString
      val target = s"$base/orders_widen"
      val opts = CdcApplier.Options(Seq("o_orderkey"), numBuckets = 8)
      val oInt = o.select($"o_orderkey", ($"o_orderkey" % 100).cast("int").as("qty"))
      CdcApplier.applyBatch(s, ChangeFeed.inserts(oInt, $"o_orderkey" * 10),
        target, opts)
      // the widen: an upstream ALTER ... TYPE BIGINT shows up as a
      // bigint-schema change batch with values beyond int range
      val oLong = o.select($"o_orderkey",
        ($"o_orderkey" % 100).cast("bigint").as("qty"))
      CdcApplier.applyBatch(s,
        ChangeFeed.updates(oLong.filter($"o_orderkey" % 3 === 0),
          Map("qty" -> ($"o_orderkey" * 1000000L)), $"o_orderkey" * 10 + 5),
        target, opts)
      val widenedType = CdcApplier.TargetMeta
        .read(s.sparkContext.hadoopConfiguration, new org.apache.hadoop.fs.Path(target))
        .flatMap(_.schemaJson)
        .map(j => org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType]("qty").dataType)
      require(widenedType.contains(org.apache.spark.sql.types.LongType),
        s"the persisted schema must carry the widened type, got $widenedType")
      // old-schema replay shape: an INT batch lands AFTER the widen and
      // upcasts into the widened column
      val extra = o.select(($"o_orderkey" + 5000000L).as("o_orderkey"),
        ($"o_orderkey" % 100).cast("int").as("qty"))
      CdcApplier.applyBatch(s, ChangeFeed.inserts(extra, $"o_orderkey" * 10 + 8),
        target, opts)
      // refusals survive: cross-family retype drifts; mor refuses widening
      val narrowRefused = scala.util.Try(CdcApplier.applyBatch(s,
        ChangeFeed.inserts(o.select($"o_orderkey",
          concat(lit("x"), $"o_orderkey").as("qty")).limit(5), lit(999999999L)),
        target, opts)).isFailure
      require(narrowRefused, "a cross-family retype must still drift")
      val mor = s"$base/orders_widen_mor"
      CdcApplier.applyBatchMor(s, ChangeFeed.inserts(oInt, $"o_orderkey" * 10),
        mor, opts)
      val morRefused = scala.util.Try(CdcApplier.applyBatchMor(s,
        ChangeFeed.inserts(oLong.limit(5), lit(999999999L)), mor, opts)).isFailure
      require(morRefused, "merge-on-read must refuse widening (mixed delta types)")
      CdcApplier.snapshot(s, target)
        .select($"o_orderkey", $"qty")
        .withColumn("widened", lit(widenedType.contains(
          org.apache.spark.sql.types.LongType)))
        .withColumn("narrow_refused", lit(narrowRefused))
        .withColumn("mor_refused", lit(morRefused))
        .orderBy($"o_orderkey")
    }),

    // CALL system.history (q254): time travel (q224/q245) exists, but a
    // SQL user could not DISCOVER what positions are answerable. The
    // history procedure serves one row per retained version-image stamp —
    // row count at the stamp, answerable = (pos >= floor) — plus the floor
    // / storage / modulus from `.graft_meta`, through the same
    // ProcedureCatalog seam as q240's maintenance CALLs. Lifecycle plants
    // the full shape: four batch-stamped positions, then a PARTIAL vacuum
    // (retain from 200) that collapses the two pre-window stamps per key —
    // position 100 keeps only keys whose latest pre-window image is the
    // insert, position 150 absorbs the %2 updates, and the floor lands on
    // the vacuum point (150 = the max collapsed stamp), below which the
    // procedure reports NOT answerable — exactly what VERSION AS OF would
    // refuse. Oracle: the per-position counts derived declaratively.
    "q254_sql_history" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_hist")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_hist (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8', storage 'mor')""")
      val target = s"$whRoot/prod/orders_hist"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      CdcApplier.applyBatchMor(s, ChangeFeed.inserts(o, lit(100L)), target, opts)
      CdcApplier.applyBatchMor(s, ChangeFeed.updates(o.filter($"o_orderkey" % 2 === 0),
        Map("o_totalprice" -> ($"o_totalprice" * 1.1)), lit(150L)), target, opts)
      CdcApplier.applyBatchMor(s, ChangeFeed.updates(o.filter($"o_orderkey" % 4 === 0),
        Map("o_totalprice" -> ($"o_totalprice" * 1.2)), lit(200L)), target, opts)
      CdcApplier.applyBatchMor(s, ChangeFeed.deletes(o.filter($"o_orderkey" % 6 === 0),
        lit(300L)), target, opts)
      CdcApplier.vacuumMor(s, target, 200L)
      s.sql("CALL q245cat.system.history(table => 'prod.orders_hist')")
        .orderBy($"position")
    }),

    // STORAGE-PARTITIONED JOIN (q255; public design point: Iceberg's
    // SupportsReportPartitioning + FunctionCatalog `bucket` function,
    // SPARK-37375): two graft tables bucketed on the SAME join key with the
    // same modulus join with ZERO shuffle — the layout already paid the
    // shuffle at write time, and Spark's key-grouped execution aligns the
    // two sides' per-bucket partitions by their reported bucket ids
    // (GraftBatchScan's KeyGroupedPartitioning, resolved against the
    // catalog's own `bucket` function = the writer's exact pmod(murmur3)).
    // Both sides run a real CDC lifecycle first (inserts + price updates on
    // the fact, deletes on the dim), so the zero-exchange join reads
    // MERGED state, not raw inserts. In-gate requires: (a) the SPJ plan
    // contains NO shuffle exchange; (b) a deliberately MISMATCHED layout
    // (different modulus) falls back to a shuffle join — and returns the
    // SAME row count, so refusal is a plan property, never a correctness
    // one. Oracle: the joined lifecycle replay. 100 TB: a co-bucketed
    // fact-fact join moves zero bytes between executors — the single
    // biggest shuffle a replication-fed warehouse pays, eliminated.
    "q255_spj_join" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val whRoot = graftCatRoot(s)
      Seq("orders_spj", "cust_spj", "cust_spj_mis").foreach(t =>
        s.sql(s"DROP TABLE IF EXISTS q245cat.prod.$t"))
      s.sql(s"""CREATE TABLE q245cat.prod.orders_spj (${o.schema.toDDL})
                OPTIONS (pk 'o_custkey,o_orderkey', bucketCols 'o_custkey',
                         buckets '8')""")
      s.sql(s"""CREATE TABLE q245cat.prod.cust_spj (${c.schema.toDDL})
                OPTIONS (pk 'c_custkey', buckets '8')""")
      s.sql(s"""CREATE TABLE q245cat.prod.cust_spj_mis (${c.schema.toDDL})
                OPTIONS (pk 'c_custkey', buckets '16')""")
      val oOpts = CdcApplier.Options(Seq("o_custkey", "o_orderkey"),
        bucketCols = Some(Seq("o_custkey")), numBuckets = 8)
      val cOpts = CdcApplier.Options(Seq("c_custkey"), numBuckets = 8)
      val mOpts = CdcApplier.Options(Seq("c_custkey"), numBuckets = 16)
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10),
        s"$whRoot/prod/orders_spj", oOpts)
      CdcApplier.applyBatch(s, ChangeFeed.updates(o.filter($"o_orderkey" % 7 === 0),
        Map("o_totalprice" -> ($"o_totalprice" * 1.2)), $"o_orderkey" * 10 + 5),
        s"$whRoot/prod/orders_spj", oOpts)
      Seq(("cust_spj", cOpts), ("cust_spj_mis", mOpts)).foreach { case (t, op) =>
        CdcApplier.applyBatch(s, ChangeFeed.inserts(c, $"c_custkey" * 10),
          s"$whRoot/prod/$t", op)
        CdcApplier.applyBatch(s, ChangeFeed.deletes(c.filter($"c_custkey" % 10 === 0),
          $"c_custkey" * 10 + 5), s"$whRoot/prod/$t", op)
      }
      val confs = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        def joined(custTable: String) = s.sql(
          s"""SELECT o.o_orderkey, o.o_custkey, c.c_name, o.o_totalprice AS px
              FROM q245cat.prod.orders_spj o
              JOIN q245cat.prod.$custTable c ON o.o_custkey = c.c_custkey""")
        val spj = joined("cust_spj")
        spj.queryExecution.toRdd.count()
        val plan = spj.queryExecution.executedPlan.toString
        require(!plan.contains("Exchange"),
          s"a co-bucketed graft join must not shuffle either side:\n$plan")
        require(plan.contains("GraftBatchScan"),
          s"expected both sides on the key-grouped Batch leg:\n$plan")
        val mis = joined("cust_spj_mis")
        mis.queryExecution.toRdd.count()
        require(mis.queryExecution.executedPlan.toString.contains("Exchange"),
          "a mismatched bucket modulus must fall back to a shuffle join")
        val spjN = spj.count()
        val misN = mis.count()
        require(spjN == misN && spjN > 0,
          s"SPJ and shuffle joins must agree: $spjN vs $misN")
        spj.withColumn("spj_zero_shuffle", lit(true))
          .orderBy($"o_orderkey")
      } finally saved.foreach { case (k, v) =>
        v.fold(s.conf.unset(k))(s.conf.set(k, _))
      }
    }),

    // NAMED TAGS (q256; public design point: Iceberg tags): a position is
    // the honest version axis but a HUMAN ships releases by name — `CALL
    // system.tag(t, name, pos)` pins a name to a `_graft_pos`, SQL `VERSION
    // AS OF '<name>'` serves it, and the tag PINS ITS HISTORY: compaction/
    // vacuum refuse any collapse that would raise the as-of floor above a
    // tagged position (the error names the blockers; drop_tag releases).
    // Lifecycle: 4 stamps (insert@100, %2 updates@150, %4 updates@200, %6
    // deletes@300); tags genesis@100 / mid@150 / release@300; a vacuum
    // retaining from 200 must REFUSE (it would strand genesis@100), then
    // succeed after drop_tag — and 'mid'@150 must answer IDENTICALLY before
    // and after the vacuum (150 is exactly the post-vacuum floor). Oracle:
    // both tagged states replayed declaratively. 100 TB: a tag is one
    // meta-file entry; its cost is the delta retention it pins — priced
    // and visible, never silent.
    "q256_named_tags" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_tags")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_tags (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8', storage 'mor')""")
      val target = s"$whRoot/prod/orders_tags"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      CdcApplier.applyBatchMor(s, ChangeFeed.inserts(o, lit(100L)), target, opts)
      CdcApplier.applyBatchMor(s, ChangeFeed.updates(o.filter($"o_orderkey" % 2 === 0),
        Map("o_totalprice" -> ($"o_totalprice" * 1.1)), lit(150L)), target, opts)
      CdcApplier.applyBatchMor(s, ChangeFeed.updates(o.filter($"o_orderkey" % 4 === 0),
        Map("o_totalprice" -> ($"o_totalprice" * 1.2)), lit(200L)), target, opts)
      CdcApplier.applyBatchMor(s, ChangeFeed.deletes(o.filter($"o_orderkey" % 6 === 0),
        lit(300L)), target, opts)
      Seq(("genesis", 100L), ("mid", 150L), ("release", 300L)).foreach { case (n, p) =>
        s.sql(s"CALL q245cat.system.tag(table => 'prod.orders_tags', " +
          s"name => '$n', pos => ${p}L)")
      }
      def midState() = s.sql(
        """SELECT o_orderkey, o_totalprice AS px
           FROM q245cat.prod.orders_tags VERSION AS OF 'mid'""")
      // pin the PRE-vacuum answer distributed-side (localCheckpoint — a
      // lazy frame would silently re-read the post-vacuum state)
      val midBefore = midState().localCheckpoint()
      // the pin: retaining from 200 would strand genesis@100 — refuse
      val vacuumRefused = scala.util.Try(
        CdcApplier.vacuumMor(s, target, 200L)).failed.toOption.exists { e =>
        e.getMessage.contains("genesis")
      }
      require(vacuumRefused, "vacuum must refuse while a tag pins pre-window history")
      s.sql("CALL q245cat.system.drop_tag(table => 'prod.orders_tags', name => 'genesis')")
      CdcApplier.vacuumMor(s, target, 200L) // now legal: floor lands on 150
      val midAfter = midState()
      val drift = midBefore.exceptAll(midAfter).count() +
        midAfter.exceptAll(midBefore).count()
      require(drift == 0,
        "a retained tag must answer identically across the vacuum")
      val listed = s.sql("CALL q245cat.system.tags(table => 'prod.orders_tags')")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getBoolean(2))).toSet
      require(listed == Set(("mid", 150L, true), ("release", 300L, true)),
        s"tag listing drifted: $listed")
      val mid = midState()
        .select(lit("mid").as("leg"), $"o_orderkey", $"px")
      val rel = s.sql(
        """SELECT o_orderkey, o_totalprice AS px
           FROM q245cat.prod.orders_tags VERSION AS OF 'release'""")
        .select(lit("release").as("leg"), $"o_orderkey", $"px")
      mid.unionByName(rel)
        .withColumn("vacuum_refused", lit(vacuumRefused))
        .orderBy($"leg", $"o_orderkey")
    }),

    // COLUMN RENAME VIA NAME MAPPING (q258; public design point: Delta Lake
    // column mapping): RENAME COLUMN is a META-ONLY operation — data files
    // and the persisted schema keep their PHYSICAL names forever; the
    // logical->physical map translates at the serving edges only. At 100 TB
    // this is the whole point: the alternative is a full-table rewrite for
    // a name change. The gate proves the full round trip: (1) lifecycle
    // under the original name; (2) SQL ALTER TABLE ... RENAME COLUMN
    // o_totalprice -> price_usd; (3) reads by the NEW name through the V2
    // catalog; (4) a NEW-NAME update batch applies (write-side
    // translation); (5) an OLD-NAME (physical) batch replays after the
    // rename and converges (replay safety); (6) the clustered optimize +
    // file-skip path works ON the renamed column (predicate translation
    // down to the physical sidecars — in-gate require on kept<total from
    // the executed plan); (7) PK renames refuse; the old name is GONE from
    // the served schema. Oracle: the lifecycle replayed under the new name.
    "q258_column_rename" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_ren")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_ren (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8')""")
      val target = s"$whRoot/prod/orders_ren"
      val opts = CdcApplier.Options(Seq("o_orderkey"), numBuckets = 8)
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), target, opts)
      s.sql("ALTER TABLE q245cat.prod.orders_ren RENAME COLUMN o_totalprice TO price_usd")
      // served schema speaks the new name; the old one is gone
      val served = s.table("q245cat.prod.orders_ren").columns.toSet
      require(served.contains("price_usd") && !served.contains("o_totalprice"),
        s"served schema must carry the rename: $served")
      // NEW-name update batch (the post-rename upstream schema)
      val renamed = o.withColumnRenamed("o_totalprice", "price_usd")
      CdcApplier.applyBatch(s, ChangeFeed.updates(renamed.filter($"o_orderkey" % 3 === 0),
        Map("price_usd" -> ($"price_usd" * 1.1)), $"o_orderkey" * 10 + 5), target, opts)
      // OLD-name (physical) replay batch lands AFTER the rename — a %5
      // wave at a newer position; replay translation must converge it
      CdcApplier.applyBatch(s, ChangeFeed.updates(o.filter($"o_orderkey" % 5 === 0),
        Map("o_totalprice" -> ($"o_totalprice" * 2.0)), $"o_orderkey" * 10 + 7),
        target, opts)
      // PK renames refuse (the layout's identity)
      val pkRefused = scala.util.Try(
        s.sql("ALTER TABLE q245cat.prod.orders_ren RENAME COLUMN o_orderkey TO id"))
        .isFailure
      require(pkRefused, "renaming a PK column must refuse")
      // clustered layout + file skipping on the RENAMED column: predicate
      // translation must reach the physical sidecars
      val fs = new org.apache.hadoop.fs.Path(target)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val bytes = CdcApplier.bucketIds(fs, new org.apache.hadoop.fs.Path(target))
        .map { b =>
          fs.listStatus(new org.apache.hadoop.fs.Path(target, s"${CdcApplier.BUCKET}=$b"))
            .filter(FileStats.isDataFile).map(_.getLen).sum
        }.sum
      CdcApplier.optimize(s, target, targetFileBytes = math.max(8L << 10, bytes / 24),
        clusterBy = Seq("price_usd"))
      val q = s.table("q245cat.prod.orders_ren")
        .filter($"price_usd" > 400000.0)
        .select($"o_orderkey", $"price_usd")
      q.queryExecution.toRdd.count()
      val plan = q.queryExecution.executedPlan.toString
      val fileRatio = """files=(\d+)/(\d+)""".r.findFirstMatchIn(plan)
        .map(m => (m.group(1).toInt, m.group(2).toInt))
      require(fileRatio.exists { case (k, n) => k < n && n > 8 },
        s"the renamed-column predicate must still skip files, got $fileRatio in:\n$plan")
      q.withColumn("skipped", lit(true)).withColumn("pk_rename_refused", lit(pkRefused))
        .orderBy($"o_orderkey")
    }),

    // DROP COLUMN VIA MAPPING (q259; the q258 machinery's mirror — Delta
    // column mapping's drop): META-ONLY retirement of a physical name.
    // Files keep the bytes until their buckets naturally rewrite; every
    // serving edge excludes the retired column; post-drop batches omit it
    // (the drift guard exempts retired names) and pre-drop replays still
    // carrying it apply cleanly into invisible storage. Lifecycle: insert
    // with an extra `note` column; DROP COLUMN note via SQL; served schema
    // loses it; a post-drop update batch (no note) applies; a pre-drop
    // replay (with note) applies and converges; re-ADDing `note` refuses
    // (files may still carry old bytes — resurrection guard); dropping the
    // PK refuses. Oracle: the lifecycle replayed without the column.
    // 100 TB: the alternative is a full rewrite to unship a column.
    "q259_drop_column" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_drop")
      val withNote = o.withColumn("note", concat(lit("n"), $"o_orderkey" % 7))
      s.sql(s"""CREATE TABLE q245cat.prod.orders_drop (${withNote.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8')""")
      val target = s"$whRoot/prod/orders_drop"
      val opts = CdcApplier.Options(Seq("o_orderkey"), numBuckets = 8)
      CdcApplier.applyBatch(s, ChangeFeed.inserts(withNote, $"o_orderkey" * 10),
        target, opts)
      s.sql("ALTER TABLE q245cat.prod.orders_drop DROP COLUMN note")
      val served = s.table("q245cat.prod.orders_drop").columns.toSet
      require(!served.contains("note"), s"dropped column still served: $served")
      // post-drop batch: the upstream schema no longer carries the column
      CdcApplier.applyBatch(s, ChangeFeed.updates(o.filter($"o_orderkey" % 3 === 0),
        Map("o_totalprice" -> ($"o_totalprice" * 1.1)), $"o_orderkey" * 10 + 5),
        target, opts)
      // pre-drop replay: an old-schema batch still carrying `note` lands at
      // a newer position for the %5 keys and must converge (its note values
      // go to invisible storage)
      CdcApplier.applyBatch(s, ChangeFeed.updates(withNote.filter($"o_orderkey" % 5 === 0),
        Map("o_totalprice" -> ($"o_totalprice" * 2.0)), $"o_orderkey" * 10 + 7),
        target, opts)
      val readdRefused = scala.util.Try(
        s.sql("ALTER TABLE q245cat.prod.orders_drop ADD COLUMN note STRING")).isFailure
      require(readdRefused, "re-adding a retired physical name must refuse")
      val pkDropRefused = scala.util.Try(
        s.sql("ALTER TABLE q245cat.prod.orders_drop DROP COLUMN o_orderkey")).isFailure
      require(pkDropRefused, "dropping a PK column must refuse")
      s.table("q245cat.prod.orders_drop")
        .select($"o_orderkey", $"o_totalprice".as("px"), $"o_orderstatus")
        .withColumn("readd_refused", lit(readdRefused))
        .withColumn("pk_drop_refused", lit(pkDropRefused))
        .orderBy($"o_orderkey")
    }),

    // DESCRIBE DETAIL (q261; Delta's DESCRIBE DETAIL surface): the one-row
    // table-facts relation completing the SQL observability triplet
    // (detail + history q254 + tags q256) — a SQL operator can now see the
    // storage mode, modulus, PK, retention floor, high-water position,
    // commit-fence sequence, live rows, and the evolution-surface counts
    // before issuing any maintenance CALL. The lifecycle plants every
    // field: 4 mor batches (100/150/200/300), a tag, a rename, and a
    // partial vacuum — each of the SEVEN fenced publishes ticks commit_seq
    // exactly once (4 applies + tag + rename + vacuum = 7), the vacuum
    // lands the floor on 150, and live_rows couples the row to the data.
    // Files/bytes are environment-shaped, so they are REQUIRED positive
    // in-gate rather than hash-compared. Oracle: every field derived
    // declaratively from the lifecycle.
    "q261_sql_detail" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_detail")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_detail (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8', storage 'mor')""")
      val target = s"$whRoot/prod/orders_detail"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      CdcApplier.applyBatchMor(s, ChangeFeed.inserts(o, lit(100L)), target, opts)
      CdcApplier.applyBatchMor(s, ChangeFeed.updates(o.filter($"o_orderkey" % 2 === 0),
        Map("o_totalprice" -> ($"o_totalprice" * 1.1)), lit(150L)), target, opts)
      CdcApplier.applyBatchMor(s, ChangeFeed.updates(o.filter($"o_orderkey" % 4 === 0),
        Map("o_totalprice" -> ($"o_totalprice" * 1.2)), lit(200L)), target, opts)
      CdcApplier.applyBatchMor(s, ChangeFeed.deletes(o.filter($"o_orderkey" % 6 === 0),
        lit(300L)), target, opts)
      s.sql("CALL q245cat.system.tag(table => 'prod.orders_detail', " +
        "name => 'keep', pos => 200L)")
      s.sql("ALTER TABLE q245cat.prod.orders_detail RENAME COLUMN o_totalprice TO px_usd")
      CdcApplier.vacuumMor(s, target, 200L) // floor -> 150; 'keep'@200 survives
      val d = s.sql("CALL q245cat.system.detail(table => 'prod.orders_detail')")
      val r = d.head()
      require(r.getAs[Int]("n_files") > 0 && r.getAs[Long]("bytes") > 0L &&
        r.getAs[Int]("n_buckets_on_disk") == 8,
        s"environment-shaped fields must be sane: $r")
      d.select($"storage", $"buckets", $"pk", $"floor", $"max_pos",
        $"commit_seq", $"live_rows", $"n_tags", $"n_renames", $"n_drops")
    }),

    // COMMIT FENCE (q257; public design point: Delta's optimistic commit
    // protocol / HBase region fencing): every bucket-swapping publisher
    // claims the next commit ticket — an exclusive marker-file create —
    // before touching state, so a CONCURRENT writer (split-brain applier
    // after failover, a second misconfigured pipeline, an optimize racing
    // an apply) fails LOUDLY instead of silently losing the other writer's
    // merge in last-swap-wins bucket interleavings. The gate drives the
    // interleave deterministically: claim the ticket (the "live concurrent
    // writer"), then an applyBatch AND an optimize must both throw the
    // typed conflict; reclaimCommit (the restart contract — holder known
    // dead) releases it; the retried batch converges; a REPLAY of the same
    // batch is then applied again and must change nothing (fencing must
    // not break replay convergence). The commit sequence is pinned to the
    // exact number of publishes. Oracle: the converged lifecycle. 100 TB:
    // fencing is four metadata ops on empty files per publish — no meta
    // rewrite, no data I/O.
    "q257_commit_fence" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val base = Files.createTempDirectory("graft_cdc").toString
      val target = s"$base/orders_fence"
      val opts = CdcApplier.Options(Seq("o_orderkey"), numBuckets = 8)
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), target, opts)
      val fs = new org.apache.hadoop.fs.Path(target)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val tpath = new org.apache.hadoop.fs.Path(target)
      require(CdcApplier.commitSeq(fs, tpath) == 1L, "one publish, sequence 1")
      // a concurrent writer holds the next ticket
      CdcApplier.claimCommit(fs, tpath)
      val upd = ChangeFeed.updates(o.filter($"o_orderkey" % 5 === 0),
        Map("o_totalprice" -> ($"o_totalprice" * 1.3)), $"o_orderkey" * 10 + 5)
      def conflicted(f: => Any): Boolean = scala.util.Try(f).failed.toOption
        .exists(_.isInstanceOf[CdcApplier.GraftConcurrentWriteException])
      val applyFenced = conflicted(CdcApplier.applyBatch(s, upd, target, opts))
      val optimizeFenced = conflicted(CdcApplier.optimize(s, target, 64L << 20))
      require(applyFenced && optimizeFenced,
        "every publisher must conflict while the ticket is held")
      require(CdcApplier.commitSeq(fs, tpath) == 1L,
        "fenced attempts must not advance the sequence")
      // the holder dies; the restarted single writer reclaims and retries
      require(CdcApplier.reclaimCommit(s, target), "stale ticket must reclaim")
      require(!CdcApplier.reclaimCommit(s, target), "reclaim is idempotent-false")
      CdcApplier.applyBatch(s, upd, target, opts)
      // replay convergence survives fencing: same batch again, no change
      CdcApplier.applyBatch(s, upd, target, opts)
      require(CdcApplier.commitSeq(fs, tpath) == 3L,
        "three publishes, sequence 3")
      CdcApplier.snapshot(s, target)
        .select($"o_orderkey", $"o_totalprice".as("px"))
        .withColumn("fenced", lit(applyFenced && optimizeFenced))
        .orderBy($"o_orderkey")
    }),

    // SORTED-BUCKET LAYOUT + REPORTED ORDERING (q262; public design point:
    // Iceberg sort orders + SupportsReportOrdering, SPARK-38647): q255
    // removed the Exchange from a co-bucketed join but each merge-join side
    // still sorted per partition. Every copy-on-write bucket publish now
    // writes ONE file internally sorted by (bucket key, rest of PK),
    // `.graft_meta` records it, and the Batch scan REPORTS it — so the
    // same join runs with NO Exchange AND NO Sort: the layout paid the
    // sort once, at write time, and at 100 TB every join over it reuses
    // that work. The fact side runs a full lifecycle INCLUDING a tombstone
    // compaction (a bucket rewrite — order must survive it). In-gate
    // requires: (a) the sorted SPJ plan has no Exchange and no Sort node;
    // (b) a merge-on-read dim (reader-local hashmap resolve — unordered by
    // construction) still joins zero-Exchange but falls back to a
    // per-partition Sort; (c) both joins agree. Oracle: the declarative
    // lifecycle join. Wrong ordering cannot pass silently: a SortMergeJoin
    // fed unsorted input returns wrong rows and breaks the hash.
    "q262_sorted_spj" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val whRoot = graftCatRoot(s)
      Seq("orders_srt", "cust_srt", "cust_srt_mor").foreach(t =>
        s.sql(s"DROP TABLE IF EXISTS q245cat.prod.$t"))
      s.sql(s"""CREATE TABLE q245cat.prod.orders_srt (${o.schema.toDDL})
                OPTIONS (pk 'o_custkey,o_orderkey', bucketCols 'o_custkey',
                         buckets '8')""")
      s.sql(s"""CREATE TABLE q245cat.prod.cust_srt (${c.schema.toDDL})
                OPTIONS (pk 'c_custkey', buckets '8')""")
      s.sql(s"""CREATE TABLE q245cat.prod.cust_srt_mor (${c.schema.toDDL})
                OPTIONS (pk 'c_custkey', buckets '8', storage 'mor')""")
      val oOpts = CdcApplier.Options(Seq("o_custkey", "o_orderkey"),
        bucketCols = Some(Seq("o_custkey")), numBuckets = 8)
      val cOpts = CdcApplier.Options(Seq("c_custkey"), numBuckets = 8)
      val fact = s"$whRoot/prod/orders_srt"
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), fact, oOpts)
      CdcApplier.applyBatch(s, ChangeFeed.updates(o.filter($"o_orderkey" % 7 === 0),
        Map("o_totalprice" -> ($"o_totalprice" * 1.2)), $"o_orderkey" * 10 + 5),
        fact, oOpts)
      CdcApplier.applyBatch(s, ChangeFeed.deletes(o.filter($"o_orderkey" % 13 === 0),
        $"o_orderkey" * 10 + 7), fact, oOpts)
      // tombstone compaction rewrites the touched buckets — order survives
      CdcApplier.compact(s, fact, Long.MaxValue / 2)
      CdcApplier.applyBatch(s, ChangeFeed.inserts(c, $"c_custkey" * 10),
        s"$whRoot/prod/cust_srt", cOpts)
      CdcApplier.applyBatch(s, ChangeFeed.deletes(c.filter($"c_custkey" % 10 === 0),
        $"c_custkey" * 10 + 5), s"$whRoot/prod/cust_srt", cOpts)
      CdcApplier.applyBatchMor(s, ChangeFeed.inserts(c, $"c_custkey" * 10),
        s"$whRoot/prod/cust_srt_mor", cOpts)
      CdcApplier.applyBatchMor(s, ChangeFeed.deletes(c.filter($"c_custkey" % 10 === 0),
        $"c_custkey" * 10 + 5), s"$whRoot/prod/cust_srt_mor", cOpts)
      val confs = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        def joined(custTable: String) = s.sql(
          s"""SELECT o.o_orderkey, o.o_custkey, c.c_name, o.o_totalprice AS px
              FROM q245cat.prod.orders_srt o
              JOIN q245cat.prod.$custTable c ON o.o_custkey = c.c_custkey""")
        val spj = joined("cust_srt")
        spj.queryExecution.toRdd.count()
        val plan = spj.queryExecution.executedPlan.toString
        require(!plan.contains("Exchange"),
          s"a sorted co-bucketed join must not shuffle:\n$plan")
        require(!plan.contains("Sort ["),
          s"a sorted co-bucketed join must not re-sort either side:\n$plan")
        require(plan.contains("GraftBatchScan"),
          s"expected both sides on the key-grouped Batch leg:\n$plan")
        val mor = joined("cust_srt_mor")
        mor.queryExecution.toRdd.count()
        val morPlan = mor.queryExecution.executedPlan.toString
        require(!morPlan.contains("Exchange"),
          s"the mor dim still aligns by bucket — no shuffle:\n$morPlan")
        require(morPlan.contains("Sort ["),
          s"a mor side is unordered by construction and must re-sort:\n$morPlan")
        val a = spj.count(); val b = mor.count()
        require(a == b && a > 0, s"sorted and mor joins must agree: $a vs $b")
        spj.withColumn("sorted_zero_sort", lit(true)).orderBy($"o_orderkey")
      } finally saved.foreach { case (k, v) =>
        v.fold(s.conf.unset(k))(s.conf.set(k, _))
      }
    }),

    // ROLLBACK / RESTORE-AS-A-NEW-COMMIT (q263; public design point: Delta
    // RESTORE / Iceberg rollback-to-snapshot): time travel (q245) and tags
    // (q256) READ the past; this un-does a bad batch — as a NEW fenced
    // commit at maxPos+1 (superseding deltas over the diffed keys only),
    // so history is KEPT: post-restore time travel to the bad position
    // still answers the bad state bit-for-bit (in-gate exceptAll), the
    // change feed shows the restore as ordinary update transitions (count
    // pinned), CDC continues on top, and the vacuum floor guards restores
    // exactly like reads (refusal pinned). Oracle: restore-then-continue
    // replayed declaratively. 100 TB: the diff is one co-partitioned
    // full-outer join; the WRITE is only the changed keys.
    "q263_rollback" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val target = Files.createTempDirectory("graft_cdc").toString + "/orders_rb"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      CdcApplier.applyBatchMor(s, ChangeFeed.inserts(o, lit(100L)), target, opts)
      // the BAD batch: a fat-fingered reprice
      CdcApplier.applyBatchMor(s, ChangeFeed.updates(o.filter($"o_orderkey" % 3 === 0),
        Map("o_totalprice" -> ($"o_totalprice" * 9.99)), lit(200L)), target, opts)
      val restoredAs = CdcApplier.rollback(s, target, 100L)
      require(restoredAs == 201L, s"restore lands at maxPos+1, got $restoredAs")
      // history kept: the bad position still answers, exactly
      val bad = o.select($"o_orderkey",
        when($"o_orderkey" % 3 === 0, $"o_totalprice" * 9.99)
          .otherwise($"o_totalprice").as("o_totalprice"))
      val asOfBad = CdcApplier.snapshotAsOf(s, target, 200L)
        .select($"o_orderkey", $"o_totalprice")
      require(asOfBad.exceptAll(bad).count() + bad.exceptAll(asOfBad).count() == 0,
        "post-restore time travel to the bad position must still answer it")
      // the restore IS the change feed's next transitions
      val nRestored = CdcApplier.changeFeed(s, target, 200L)
        .filter($"next_position" === 201L && $"op" === "update").count()
      require(nRestored == o.filter($"o_orderkey" % 3 === 0).count(),
        "the change feed must carry one restore update per un-done key")
      // CDC continues on top of the restore
      CdcApplier.applyBatchMor(s, ChangeFeed.updates(o.filter($"o_orderkey" % 4 === 0),
        Map("o_totalprice" -> ($"o_totalprice" * 1.2)), lit(400L)), target, opts)
      // the vacuum floor guards restores like any as-of read
      CdcApplier.vacuumMor(s, target, 400L) // floor -> 201
      val floorRefused = scala.util.Try(
        CdcApplier.rollback(s, target, 150L)).isFailure
      require(floorRefused, "rollback below the retained floor must refuse")
      CdcApplier.snapshot(s, target)
        .select($"o_orderkey", $"o_totalprice".as("px"))
        .withColumn("restored_as", lit(restoredAs))
        .withColumn("floor_refused", lit(floorRefused))
        .orderBy($"o_orderkey")
    }),

    // BRANCHES + WRITE-AUDIT-PUBLISH (q264; public design points: Iceberg
    // branching / the WAP pattern): a named WRITABLE lineage sharing main's
    // data files. Stage on the branch (ordinary MOR applies into a sibling
    // delta dir; the branch point pins main's history via an internal
    // tag), AUDIT against the branch lineage (union-resolve snapshot +
    // bucket-pruned point lookups) while main readers are pinned unchanged
    // (in-gate exceptAll mid-stage), then fast-forward main atomically
    // under main's commit ticket (file moves, zero copies). A branch main
    // OUTRAN refuses to fast-forward (typed conflict, pinned); an
    // abandoned branch drops without a trace. Oracle: the published
    // lineage replayed declaratively. 100 TB: branch = a position + its
    // own staged batches; fast-forward = renames + one meta write.
    "q264_branch_wap" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_wap")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_wap (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '16', storage 'mor')""")
      val target = s"$whRoot/prod/orders_wap"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      CdcApplier.applyBatchMor(s, ChangeFeed.inserts(o, lit(100L)), target, opts)
      val from = Branch.create(s, target, "rel")
      require(from == 100L, s"branch point must be main's high-water, got $from")
      // stage: reprice evens, trim the %9 keys (delete images post-reprice)
      Branch.applyBatch(s, target, "rel",
        ChangeFeed.updates(o.filter($"o_orderkey" % 2 === 0),
          Map("o_totalprice" -> ($"o_totalprice" * 1.5)), lit(200L)))
      val repriced = o.withColumn("o_totalprice",
        when($"o_orderkey" % 2 === 0, $"o_totalprice" * 1.5).otherwise($"o_totalprice"))
      Branch.applyBatch(s, target, "rel",
        ChangeFeed.deletes(repriced.filter($"o_orderkey" % 9 === 0), lit(300L)))
      // main readers pinned unchanged mid-stage
      val baseState = o.select($"o_orderkey", $"o_totalprice")
      val mainMid = CdcApplier.snapshot(s, target).select($"o_orderkey", $"o_totalprice")
      require(mainMid.exceptAll(baseState).count() +
        baseState.exceptAll(mainMid).count() == 0,
        "main must be untouched while the branch stages")
      // audit probe: one staged-deleted key vanishes, one repriced survives
      val delKey = o.filter($"o_orderkey" % 9 === 0)
        .agg(min($"o_orderkey")).first.getLong(0)
      val updKey = o.filter($"o_orderkey" % 2 === 0 && $"o_orderkey" % 9 =!= 0)
        .agg(min($"o_orderkey")).first.getLong(0)
      val audited = Branch.pointLookup(s, target, "rel",
        Seq(delKey, updKey).toDF("o_orderkey"))
        .select($"o_orderkey").as[Long].collect().toSet
      require(audited == Set(updKey),
        s"the audit lookup must see the staged lineage: $audited")
      // publish: WAP's atomic fast-forward
      Branch.fastForward(s, target, "rel")
      // a branch main OUTRAN refuses; abandoning it leaves no trace
      Branch.create(s, target, "late")
      Branch.applyBatch(s, target, "late",
        ChangeFeed.updates(o.filter($"o_orderkey" % 11 === 0),
          Map("o_orderpriority" -> lit("5-LOW")), lit(350L)))
      val cur = repriced.filter($"o_orderkey" % 9 =!= 0)
      CdcApplier.applyBatchMor(s, ChangeFeed.updates(cur.filter($"o_orderkey" % 5 === 0),
        Map("o_totalprice" -> ($"o_totalprice" * 1.1)), lit(400L)), target, opts)
      val ffRefused = scala.util.Try(Branch.fastForward(s, target, "late"))
        .failed.toOption
        .exists(_.isInstanceOf[CdcApplier.GraftConcurrentWriteException])
      require(ffRefused, "fast-forward must refuse once main outran the branch")
      // the listing surface: 'rel' fast-forwarded away, 'late' still live
      // with its branch point and staged high-water visible
      val listed = s.sql("CALL q245cat.system.branches(table => 'prod.orders_wap')")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      require(listed == Set(("late", 300L, 350L)),
        s"branch listing must show the live branch lineage: $listed")
      Branch.drop(s, target, "late")
      require(s.sql("CALL q245cat.system.branches(table => 'prod.orders_wap')")
        .count() == 0, "a dropped branch leaves no listing")
      CdcApplier.snapshot(s, target)
        .select($"o_orderkey", $"o_totalprice".as("px"), $"o_orderpriority")
        .withColumn("ff_refused", lit(ffRefused))
        .orderBy($"o_orderkey")
    }),

    // TIMESTAMP AS OF (q265; public design point: Delta/Iceberg wall-clock
    // time travel): positions are the honest version axis but SQL users
    // travel by timestamp. Every fenced publish stamps its done marker
    // from an INJECTABLE monotone clock (`spark.graft.commit.clock.ms` —
    // gates stay deterministic; the resolve path never consults a clock),
    // `TIMESTAMP AS OF t` resolves to the greatest position stamped at or
    // before t and serves it through the SAME path as VERSION AS OF
    // (agreement pinned three ways: SQL-vs-SQL, Scala-vs-SQL), a
    // pre-first-commit timestamp ERRORS the way Delta does (pinned), and
    // `CALL system.commits` exposes the stamp log (values pinned). Oracle:
    // the resolved state replayed declaratively.
    "q265_timestamp_travel" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_ts")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_ts (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8', storage 'mor')""")
      val target = s"$whRoot/prod/orders_ts"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      val t1 = 1700000000000L; val hour = 3600000L
      def at[T](ts: Long)(f: => T): T = {
        s.conf.set("spark.graft.commit.clock.ms", ts.toString)
        try f finally s.conf.unset("spark.graft.commit.clock.ms")
      }
      at(t1) { CdcApplier.applyBatchMor(s,
        ChangeFeed.inserts(o, lit(100L)), target, opts) }
      at(t1 + hour) { CdcApplier.applyBatchMor(s,
        ChangeFeed.updates(o.filter($"o_orderkey" % 2 === 0),
          Map("o_totalprice" -> ($"o_totalprice" * 1.1)), lit(200L)), target, opts) }
      at(t1 + 2 * hour) { CdcApplier.applyBatchMor(s,
        ChangeFeed.deletes(o.filter($"o_orderkey" % 6 === 0), lit(300L)),
        target, opts) }
      def fmt(ms: Long) = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(ms)) + "+00:00"
      // half past the second commit resolves to position 200
      val mid = t1 + hour + 30 * 60000L
      val byTs = s.sql(s"""SELECT o_orderkey, o_totalprice AS px
        FROM q245cat.prod.orders_ts TIMESTAMP AS OF '${fmt(mid)}'""")
      val byPos = s.sql("""SELECT o_orderkey, o_totalprice AS px
        FROM q245cat.prod.orders_ts VERSION AS OF 200""")
      require(byTs.exceptAll(byPos).count() + byPos.exceptAll(byTs).count() == 0,
        "timestamp and position travel must agree everywhere")
      val scalaTs = CdcApplier.snapshotAsOfTimestamp(s, target, mid)
        .select($"o_orderkey", $"o_totalprice".as("px"))
      require(scalaTs.exceptAll(byPos).count() +
        byPos.exceptAll(scalaTs).count() == 0,
        "the Scala surface must resolve identically")
      val preRefused = scala.util.Try(s.sql(
        s"""SELECT count(*) FROM q245cat.prod.orders_ts
            TIMESTAMP AS OF '${fmt(t1 - hour)}'""").collect()).isFailure
      require(preRefused, "a pre-first-commit timestamp must error")
      val stamps = s.sql("CALL q245cat.system.commits(table => 'prod.orders_ts')")
        .select($"ts_ms", $"position").as[(Long, Long)].collect().sorted.toSeq
      require(stamps == Seq((t1, 100L), (t1 + hour, 200L), (t1 + 2 * hour, 300L)),
        s"the stamp log must pin (clock, position) per commit: $stamps")
      byTs.withColumn("pre_refused", lit(preRefused)).orderBy($"o_orderkey")
    }),

    // AUTOMATIC SECONDARY-INDEX ROUTING (q266; public design point:
    // Phoenix/Astro secondary-index plan rewrite): q123 maintains the
    // (value, pk) index but consumed it as two MANUAL chained pointLookups
    // — a SQL user filtering on the indexed column got a full scan unless
    // they knew the index existed. GraftIndexRoute (the ViewRewrite seam)
    // now rewrites an eligible point/IN predicate into index-lookup →
    // PK-fetch automatically. In-gate: the rewrite FIRES on the indexed
    // point predicate (counter seam), answers IDENTICALLY with the route
    // unregistered (row-set equality), and DECLINES on a range predicate
    // and on a non-indexed column (counter seam) — refusal is a plan
    // property, never a correctness one. Oracle: q123's lifecycle replay.
    // 100 TB: ≤k index buckets + matching store buckets instead of a
    // fact-table scan, chosen by the optimizer.
    "q266_index_route" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val base = Files.createTempDirectory("graft_cdc").toString
      val store = base + "/orders_rt"
      val index = base + "/orders_rt_idx"
      val sopts = CdcApplier.Options(Seq("o_orderkey"))
      val iopts = CdcApplier.Options(Seq("o_custkey", "o_orderkey"),
        bucketCols = Some(Seq("o_custkey")))
      def indexFeed(changes: DataFrame): DataFrame =
        changes.select(col("op"), col("next_position"),
          when(col("before").isNotNull, struct(
            col("before.o_custkey").as("o_custkey"),
            col("before.o_orderkey").as("o_orderkey"))).as("before"),
          when(col("after").isNotNull, struct(
            col("after.o_custkey").as("o_custkey"),
            col("after.o_orderkey").as("o_orderkey"))).as("after"))
      val b1 = ChangeFeed.inserts(o, $"o_orderkey" * 10)
      val b2 = ChangeFeed.updates(o.filter($"o_orderkey" % 6 === 2),
          Map("o_custkey" -> ($"o_custkey" + 1)), $"o_orderkey" * 10 + 3)
        .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 9 === 1), $"o_orderkey" * 10 + 5))
      Seq(b1, b2).foreach { b =>
        CdcApplier.applyBatch(s, b, store, sopts)
        CdcApplier.applyBatch(s, indexFeed(b), index, iopts)
      }
      import graft.plans.GraftIndexRoute
      GraftIndexRoute.install(s)
      GraftIndexRoute.register(store, "o_custkey", index)
      try {
        def query() = CdcApplier.snapshot(s, store)
          .filter($"o_custkey".isin(3L, 7L, 11L, 19L, 42L))
          .select(o.columns.map(col).toIndexedSeq: _*)
        val f0 = GraftIndexRoute.fired
        val routed = query().collect()
        require(GraftIndexRoute.fired > f0,
          "the rewrite must fire on the indexed point predicate")
        GraftIndexRoute.unregister(store, "o_custkey")
        val plain = query().collect()
        require(routed.map(_.toString).sorted.toSeq ==
          plain.map(_.toString).sorted.toSeq,
          "routed and unrouted answers must be identical")
        GraftIndexRoute.register(store, "o_custkey", index)
        val d0 = GraftIndexRoute.declined
        CdcApplier.snapshot(s, store)
          .filter($"o_custkey" >= 3L && $"o_custkey" <= 11L)
          .select(o.columns.map(col).toIndexedSeq: _*)
          .queryExecution.optimizedPlan
        require(GraftIndexRoute.declined > d0,
          "a range predicate beyond the index's point form must decline")
        val d1 = GraftIndexRoute.declined
        CdcApplier.snapshot(s, store).filter($"o_orderstatus" === "F")
          .select(o.columns.map(col).toIndexedSeq: _*)
          .queryExecution.optimizedPlan
        require(GraftIndexRoute.declined > d1,
          "a predicate on a non-indexed column must decline")
        query()
          .withColumn("fired", lit(true))
          .withColumn("range_declined", lit(true))
          .withColumn("same_without_rule", lit(true))
          .orderBy($"o_orderkey")
      } finally GraftIndexRoute.unregister(store, "o_custkey")
    }),

    // DISJOINT-COMMIT RECONCILIATION UNDER THE FENCE (q267; public design
    // point: Delta's conflict checker allowing disjoint commits): q257's
    // fence serialized ALL writers — an optimize losing the ticket race to
    // a data publish re-ran its whole rewrite even on disjoint buckets.
    // optimize is now OPTIMISTIC: it stages with no ticket held, claims
    // for the short publish window, and — when commits landed mid-stage —
    // publishes anyway iff every one of them RECORDED a touched-bucket set
    // disjoint from its own (the commit stamps, q265's done markers). The
    // gate drives both interleavings deterministically through the
    // midStage seam on a RANGE-bucketed layout (bucket membership is SQL-
    // expressible, so the oracle replays it): DISJOINT — a data publish
    // into bucket 2 lands while optimize stages bucket 0; both commit,
    // one rewrite each (sequence arithmetic pinned). OVERLAP — a publish
    // into bucket 0 mid-stage; optimize refuses with the typed conflict
    // and burns no sequence number; the honest re-run lands. Oracle: the
    // full update lifecycle replayed declaratively (a lost update from a
    // wrongly-rebased optimize would break the hash).
    "q267_commit_rebase" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val target = Files.createTempDirectory("graft_cdc").toString + "/orders_rbase"
      val bounds = Seq(101L, 201L, 301L)
      val opts = CdcApplier.Options(Seq("o_orderkey"), rangeBounds = Some(bounds))
      val tpath = new org.apache.hadoop.fs.Path(target)
      val fs = tpath.getFileSystem(s.sparkContext.hadoopConfiguration)
      def seqNow = CdcApplier.commitSeq(fs, tpath)
      def upd(pred: org.apache.spark.sql.Column, f: Double, pos: Long) =
        ChangeFeed.updates(o.filter(pred),
          Map("o_totalprice" -> ($"o_totalprice" * f)), lit(pos))
      CdcApplier.applyBatchMor(s, ChangeFeed.inserts(o, lit(100L)), target, opts)
      CdcApplier.optimize(s, target) // bin-pack every bucket to one file
      CdcApplier.applyBatchMor(s, upd($"o_orderkey" <= 100, 1.2, 200L), target, opts)
      CdcApplier.applyBatchMor(s, upd($"o_orderkey" <= 100, 1.3, 300L), target, opts)
      require(seqNow == 4L, s"lifecycle prelude must be 4 commits, got $seqNow")
      // DISJOINT: optimize stages bucket 0; a publish into bucket 2 lands
      // mid-stage; the rebase validates disjointness and BOTH commit
      val touched = CdcApplier.optimizeStaged(s, target, 128L << 20, Seq.empty,
        () => CdcApplier.applyBatchMor(s,
          upd($"o_orderkey" > 200 && $"o_orderkey" <= 300, 1.4, 400L), target, opts))
      require(touched == Seq(0), s"optimize's plan must be bucket 0 only: $touched")
      require(seqNow == 6L,
        s"both the mid-stage publish and the rebased optimize commit: $seqNow")
      // OVERLAP: the mid-stage publish hits optimize's own bucket — refuse
      CdcApplier.applyBatchMor(s, upd($"o_orderkey" <= 100, 1.5, 500L), target, opts)
      val refused = scala.util.Try(
        CdcApplier.optimizeStaged(s, target, 128L << 20, Seq.empty,
          () => CdcApplier.applyBatchMor(s,
            upd($"o_orderkey" <= 50, 1.6, 600L), target, opts)))
        .failed.toOption
        .exists(_.isInstanceOf[CdcApplier.GraftConcurrentWriteException])
      require(refused, "an overlapping-bucket rebase must refuse")
      require(seqNow == 8L,
        s"the refused optimize must burn no sequence number: $seqNow")
      CdcApplier.optimize(s, target) // the honest re-run
      require(seqNow == 9L, s"the re-run commits: $seqNow")
      CdcApplier.snapshot(s, target)
        .select($"o_orderkey", $"o_totalprice".as("px"))
        .withColumn("rebase_landed", lit(true))
        .withColumn("overlap_refused", lit(refused))
        .orderBy($"o_orderkey")
    }),

    // PER-FILE STATISTICS AS A RELATION (q269; the observability half of
    // q250's data skipping — Delta's per-add-file stats surfaced the way
    // DESCRIBE DETAIL surfaces table facts): `CALL system.files` serves
    // one row per (data file, tracked column) straight from the bucket
    // sidecars — rows, null count, canonical min/max — so an operator can
    // SEE why a predicate did or did not skip a file. On a RANGE-bucketed
    // layout freshly published by the sorted writer (ONE file per bucket,
    // pinned in-gate) the file-level stats ARE the bucket-level facts, so
    // the oracle replays them declaratively per range bucket. 100 TB: the
    // relation is the sidecars, read once per bucket — the same I/O class
    // as a directory listing.
    "q269_file_stats_sql" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_fs")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_fs (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', rangeBounds '101,201,301')""")
      val target = s"$whRoot/prod/orders_fs"
      val opts = CdcApplier.Options(Seq("o_orderkey"),
        rangeBounds = Some(Seq(101L, 201L, 301L)))
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), target, opts)
      val filesRel = s.sql("CALL q245cat.system.files(table => 'prod.orders_fs')")
      val perBucket = filesRel.select($"bucket", $"file").distinct()
        .groupBy($"bucket").count().as[(Int, Long)].collect().toMap
      require(perBucket.size == 4 && perBucket.values.forall(_ == 1L),
        s"the sorted publish writes one file per bucket: $perBucket")
      filesRel.filter($"column".isin("o_orderkey", "o_custkey", "o_orderstatus"))
        .select($"bucket", $"column", $"n_rows", $"nulls", $"min", $"max")
        .orderBy($"bucket", $"column")
    }),

    // STREAMED INDEX + AUTOMATIC ROUTING (q270): q170 maintains the
    // secondary index from the live stream (same micro-batch as the
    // primary), q266 routes point predicates through an index — this gate
    // closes the loop: the PRODUCTION-maintained index (streamed through
    // StreamingPipeline's IndexSpec, custkey moves retiring stale entries
    // via the S10 fan-out) serves the optimizer's automatic rewrite. The
    // routed query must equal the unrouted scan (row-set equality) and the
    // rewrite must actually fire (counter seam). Oracle: q123's replay —
    // the same lifecycle, so a stale streamed index entry breaks the hash.
    "q270_streamed_index_route" -> ((s, dir) => graft.util.SmallBatches(s) {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val o = Tables.load(s, dir, "orders")
      def toEnvelope(changes: DataFrame): Array[EnvelopeRow] =
        FeedMemo.toEnvelope(changes, "orders")
      val root = Files.createTempDirectory("graft_sidx").toString
      val store = s"$root/orders_sr"
      val index = s"$root/orders_sr_idx"
      val sopts = CdcApplier.Options(Seq("o_orderkey"))
      val iopts = CdcApplier.Options(Seq("o_custkey", "o_orderkey"),
        bucketCols = Some(Seq("o_custkey")))
      val b1 = FeedMemo.rows("orders_ins10", dir)(
        toEnvelope(ChangeFeed.inserts(o, $"o_orderkey" * 10)))
      val b2 = FeedMemo.rows("q270_b2", dir)(
        toEnvelope(ChangeFeed.updates(o.filter($"o_orderkey" % 6 === 2),
            Map("o_custkey" -> ($"o_custkey" + 1)), $"o_orderkey" * 10 + 3)
          .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 9 === 1),
            $"o_orderkey" * 10 + 5))))
      val src = MemoryStream[EnvelopeRow]
      val queries = graft.streaming.StreamingPipeline.startPerTable(
        src.toDF(), Map("orders" -> (o.schema, store)), s"$root/ckpt",
        _ => graft.streaming.StreamingPipeline.PipelineOptions(sopts,
          indexes = Seq(graft.streaming.StreamingPipeline.IndexSpec(
            index, Seq("o_custkey", "o_orderkey"), iopts))))
      try Seq(b1, b2).foreach { rows =>
        rows.grouped(1500).foreach(c => src.addData(c.toIndexedSeq))
        queries.values.foreach(_.processAllAvailable())
      } finally queries.values.foreach(_.stop())
      import graft.plans.GraftIndexRoute
      GraftIndexRoute.install(s)
      GraftIndexRoute.register(store, "o_custkey", index)
      try {
        def query() = CdcApplier.snapshot(s, store)
          .filter($"o_custkey".isin(3L, 7L, 11L, 19L, 42L))
          .select(o.columns.map(col).toIndexedSeq: _*)
        val f0 = GraftIndexRoute.fired
        val routed = query().collect()
        require(GraftIndexRoute.fired > f0,
          "the rewrite must fire against the streamed index")
        GraftIndexRoute.unregister(store, "o_custkey")
        val plain = query().collect()
        require(routed.map(_.toString).sorted.toSeq ==
          plain.map(_.toString).sorted.toSeq,
          "the streamed index must serve the identical answer")
        GraftIndexRoute.register(store, "o_custkey", index)
        query().withColumn("streamed_route", lit(true)).orderBy($"o_orderkey")
      } finally GraftIndexRoute.unregister(store, "o_custkey")
    }),

    // ROLLBACK BY TAG (q271): q256 names a release, q263 restores a
    // position — "restore the release" composes them: tag the good state,
    // take bad batches, `CALL system.rollback(table, tag => ...)`. The
    // restore keeps the tag answerable by construction (a restore never
    // raises the floor), so the tagged read and the restored head must
    // agree — pinned in-gate; CDC continues on top. Oracle: the restored
    // lifecycle replay.
    "q271_rollback_to_tag" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_rbt")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_rbt (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8', storage 'mor')""")
      val target = s"$whRoot/prod/orders_rbt"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      CdcApplier.applyBatchMor(s, ChangeFeed.inserts(o, lit(100L)), target, opts)
      s.sql("CALL q245cat.system.tag(table => 'prod.orders_rbt', " +
        "name => 'good', pos => 100L)")
      // two bad batches land after the release
      CdcApplier.applyBatchMor(s, ChangeFeed.updates(o.filter($"o_orderkey" % 2 === 0),
        Map("o_totalprice" -> ($"o_totalprice" * 7.7)), lit(200L)), target, opts)
      CdcApplier.applyBatchMor(s, ChangeFeed.deletes(o.filter($"o_orderkey" % 5 === 0),
        lit(300L)), target, opts)
      val restored = s.sql(
        "CALL q245cat.system.rollback(table => 'prod.orders_rbt', tag => 'good')")
        .head().getAs[Long]("restored_as_pos")
      require(restored == 301L, s"restore lands at maxPos+1, got $restored")
      // the tag and the restored head agree exactly
      val tagged = CdcApplier.snapshotAsOfTag(s, target, "good")
        .select($"o_orderkey", $"o_totalprice")
      val head = CdcApplier.snapshot(s, target).select($"o_orderkey", $"o_totalprice")
      require(tagged.exceptAll(head).count() + head.exceptAll(tagged).count() == 0,
        "the restored head must equal the tagged state")
      // exactly one of pos/tag, enforced
      val bothRefused = scala.util.Try(s.sql(
        "CALL q245cat.system.rollback(table => 'prod.orders_rbt', " +
          "pos => 100L, tag => 'good')").collect()).isFailure
      require(bothRefused, "rollback must take exactly one of pos/tag")
      // CDC continues on the restored lineage
      CdcApplier.applyBatchMor(s, ChangeFeed.updates(o.filter($"o_orderkey" % 3 === 0),
        Map("o_orderpriority" -> lit("1-URGENT")), lit(400L)), target, opts)
      CdcApplier.snapshot(s, target)
        .select($"o_orderkey", $"o_totalprice".as("px"), $"o_orderpriority")
        .withColumn("restored_as", lit(restored))
        .orderBy($"o_orderkey")
    }),

    // TRUE Z-ORDER (q272; Delta's OPTIMIZE ZORDER BY, the BIT-INTERLEAVED
    // form): q250's clusterBy lays files out along ONE column's order —
    // skipping on the second column stays dead. zorder() walks a Morton
    // curve over two columns (deterministic: caller-supplied 15-bound
    // 4-bit cell ids per column, interleaved with codegen'd shifts — no
    // sampling), so every written file covers a narrow RECTANGLE and the
    // q250 sidecar stats skip on predicates over EITHER column. In-gate
    // requires: after zorder, file-level skipping engages on BOTH columns
    // (kept < total for a point predicate on each), and `sorted` cleared
    // (a Morton order is not a column order — the scan must not claim
    // one). State is carried verbatim through the rewrite — the oracle is
    // the full lifecycle replay, so a lost row/version breaks the hash.
    "q272_zorder" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val target = Files.createTempDirectory("graft_cdc").toString + "/orders_z"
      val opts = CdcApplier.Options(Seq("o_orderkey"), numBuckets = 4)
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), target, opts)
      CdcApplier.applyBatch(s, ChangeFeed.updates(o.filter($"o_orderkey" % 7 === 0),
        Map("o_totalprice" -> ($"o_totalprice" * 1.2)), $"o_orderkey" * 10 + 5),
        target, opts)
      CdcApplier.applyBatch(s, ChangeFeed.deletes(o.filter($"o_orderkey" % 11 === 0),
        $"o_orderkey" * 10 + 7), target, opts)
      val maxK = o.agg(max($"o_orderkey")).first.getLong(0)
      val maxC = o.agg(max($"o_custkey")).first.getLong(0)
      def bounds(maxV: Long) = (1 to 15).map(i => math.max(1L, maxV * i / 16))
      val hconf = s.sparkContext.hadoopConfiguration
      val tpath = new org.apache.hadoop.fs.Path(target)
      val fs = tpath.getFileSystem(hconf)
      // size the file target to the table so every SF lands ~6 files per
      // bucket — the multi-file shape the skip requires below exercise
      val totalBytes = CdcApplier.bucketIds(fs, tpath).map { b =>
        fs.listStatus(new org.apache.hadoop.fs.Path(target, s"graft_bucket=$b"))
          .filter(FileStats.isDataFile).map(_.getLen).sum
      }.sum
      CdcApplier.zorder(s, target, Seq("o_orderkey", "o_custkey"),
        Seq(bounds(maxK), bounds(maxC)),
        targetFileBytes = math.max(4096L, totalBytes / 24))
      require(CdcApplier.TargetMeta.read(hconf, tpath).get.sorted.isEmpty,
        "a Morton layout must not claim a column order")
      // both dimensions skip at file level now
      def coverage(f: org.apache.spark.sql.sources.Filter): (Int, Int) =
        CdcApplier.bucketIds(fs, tpath).map { b =>
          val (kept, n) = FileStats.selectBucketFiles(fs,
            new org.apache.hadoop.fs.Path(target, s"graft_bucket=$b"), Seq(f))
          (kept.size, n)
        }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      val (kk, nk) = coverage(org.apache.spark.sql.sources.EqualTo("o_orderkey", 42L))
      val (kc, nc) = coverage(org.apache.spark.sql.sources.EqualTo("o_custkey", 42L))
      require(nk > CdcApplier.bucketIds(fs, tpath).size,
        s"zorder must have split buckets into multiple files, got $nk")
      require(kk < nk, s"orderkey predicate must skip files: $kk/$nk")
      require(kc < nc, s"custkey predicate must skip files: $kc/$nc")
      CdcApplier.snapshot(s, target)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice".as("px"))
        .withColumn("both_dims_skip", lit(kk < nk && kc < nc))
        .orderBy($"o_orderkey")
    }),

    // INDEX ROUTING ON THE CATALOG/DSV2 SURFACE (q273; the q266 rewrite
    // carried to the plan leg SQL users actually query through): q266's
    // rule matched only the V1 LogicalRelation shape the Scala snapshot
    // produces — a SQL user querying `cat.ns.t` (the DataSourceV2Relation
    // leg, q216/q231, the EP3 surface the reference's Astro delegation maps
    // to) still got a full scan on an indexed-column point predicate. The
    // rule now matches the V2 scan relation too, firing exactly when the
    // chosen scan is the plain full-coverage Batch leg (as-of/change-feed/
    // limit/aggregate projections are excluded by construction). In-gate:
    // the rewrite FIRES on catalog SQL (counter + the GraftBatchScan node
    // GONE from the routed plan), answers IDENTICALLY with the route
    // unregistered (row-set equality + the full scan back in the plan),
    // and DECLINES on a range predicate (hash index) and on a non-indexed
    // column through the same SQL surface. Oracle: q123's lifecycle
    // replay. 100 TB: the catalog user's point query reads ≤k index
    // buckets + matching store buckets, with zero knowledge the index
    // exists.
    "q273_index_route_sql" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_route")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_route (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '16')""")
      val store = s"$whRoot/prod/orders_route"
      val index = Files.createTempDirectory("graft_cdc").toString + "/orders_route_idx"
      val sopts = CdcApplier.Options(Seq("o_orderkey"))
      val iopts = CdcApplier.Options(Seq("o_custkey", "o_orderkey"),
        bucketCols = Some(Seq("o_custkey")))
      def indexFeed(changes: DataFrame): DataFrame =
        changes.select(col("op"), col("next_position"),
          when(col("before").isNotNull, struct(
            col("before.o_custkey").as("o_custkey"),
            col("before.o_orderkey").as("o_orderkey"))).as("before"),
          when(col("after").isNotNull, struct(
            col("after.o_custkey").as("o_custkey"),
            col("after.o_orderkey").as("o_orderkey"))).as("after"))
      val b1 = ChangeFeed.inserts(o, $"o_orderkey" * 10)
      val b2 = ChangeFeed.updates(o.filter($"o_orderkey" % 6 === 2),
          Map("o_custkey" -> ($"o_custkey" + 1)), $"o_orderkey" * 10 + 3)
        .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 9 === 1), $"o_orderkey" * 10 + 5))
      Seq(b1, b2).foreach { b =>
        CdcApplier.applyBatch(s, b, store, sopts)
        CdcApplier.applyBatch(s, indexFeed(b), index, iopts)
      }
      import graft.plans.GraftIndexRoute
      GraftIndexRoute.install(s)
      GraftIndexRoute.register(store, "o_custkey", index)
      try {
        def query() = s.sql(
          """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                    o_orderdate, o_orderpriority
             FROM q245cat.prod.orders_route
             WHERE o_custkey IN (3, 7, 11, 19, 42)""")
        val f0 = GraftIndexRoute.fired
        val routedDf = query()
        val routed = routedDf.collect()
        require(GraftIndexRoute.fired > f0,
          "the rewrite must fire on the catalog SQL point predicate")
        require(routedAtRunTime(routedDf, store, index),
          "the routed plan must read the index and prune its store scan at run time")
        GraftIndexRoute.unregister(store, "o_custkey")
        val plainDf = query()
        val plain = plainDf.collect()
        require(!readsDir(plainDf.queryExecution.optimizedPlan, index),
          "without the route no index scan remains")
        require(routed.map(_.toString).sorted.toSeq ==
          plain.map(_.toString).sorted.toSeq,
          "routed and unrouted catalog answers must be identical")
        GraftIndexRoute.register(store, "o_custkey", index)
        val d0 = GraftIndexRoute.declined
        s.sql("""SELECT o_orderkey FROM q245cat.prod.orders_route
                 WHERE o_custkey >= 3 AND o_custkey <= 11""")
          .queryExecution.optimizedPlan
        require(GraftIndexRoute.declined > d0,
          "a range over the hash-bucketed index must decline on the SQL leg")
        val d1 = GraftIndexRoute.declined
        s.sql("""SELECT o_orderkey FROM q245cat.prod.orders_route
                 WHERE o_orderstatus = 'F'""")
          .queryExecution.optimizedPlan
        require(GraftIndexRoute.declined > d1,
          "a non-indexed column must decline on the SQL leg")
        query()
          .withColumn("sql_fired", lit(true))
          .withColumn("sql_range_declined", lit(true))
          .withColumn("sql_same_without_rule", lit(true))
          .orderBy($"o_orderkey")
      } finally GraftIndexRoute.unregister(store, "o_custkey")
    }),

    // RANGE ROUTING OVER A RANGE-BUCKETED INDEX (q274; the BETWEEN form of
    // q266 — HBase's rowkey-range scan, chosen by the optimizer): the rule
    // declined every non-point predicate by design, but rangeLookup +
    // range-bucketed layouts already exist (q134): a BETWEEN on an indexed
    // column whose index is RANGE-bucketed is exactly a covering-bucket
    // prefix scan → PK fetch. The rule now routes literal one-/two-sided
    // ranges when (and only when) the index layout is range-bucketed on the
    // routed column, with a bounded planning-time count enforcing the
    // maxKeys cap. In-gate: the BETWEEN fires on the range index (counter),
    // answers identically with the route unregistered, and the SAME
    // predicate DECLINES when the registered index is hash-bucketed (the
    // layout cannot serve a contiguous scan). Oracle: the lifecycle replay
    // filtered to the range. 100 TB: a time/fk-range query reads the
    // covering index buckets + matched store buckets, never either table.
    "q274_range_route" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val base = Files.createTempDirectory("graft_cdc").toString
      val store = base + "/orders_rr"
      val rangeIdx = base + "/orders_rr_ridx"
      val hashIdx = base + "/orders_rr_hidx"
      val sopts = CdcApplier.Options(Seq("o_orderkey"))
      // index bucketed by RANGE on the indexed value — 4 covering buckets
      val ropts = CdcApplier.Options(Seq("o_custkey", "o_orderkey"),
        bucketCols = Some(Seq("o_custkey")), rangeBounds = Some(Seq(25L, 50L, 100L)))
      val hopts = CdcApplier.Options(Seq("o_custkey", "o_orderkey"),
        bucketCols = Some(Seq("o_custkey")))
      def indexFeed(changes: DataFrame): DataFrame =
        changes.select(col("op"), col("next_position"),
          when(col("before").isNotNull, struct(
            col("before.o_custkey").as("o_custkey"),
            col("before.o_orderkey").as("o_orderkey"))).as("before"),
          when(col("after").isNotNull, struct(
            col("after.o_custkey").as("o_custkey"),
            col("after.o_orderkey").as("o_orderkey"))).as("after"))
      val b1 = ChangeFeed.inserts(o, $"o_orderkey" * 10)
      val b2 = ChangeFeed.updates(o.filter($"o_orderkey" % 6 === 2),
          Map("o_custkey" -> ($"o_custkey" + 1)), $"o_orderkey" * 10 + 3)
        .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 9 === 1), $"o_orderkey" * 10 + 5))
      Seq(b1, b2).foreach { b =>
        CdcApplier.applyBatch(s, b, store, sopts)
        CdcApplier.applyBatch(s, indexFeed(b), rangeIdx, ropts)
        CdcApplier.applyBatch(s, indexFeed(b), hashIdx, hopts)
      }
      import graft.plans.GraftIndexRoute
      GraftIndexRoute.install(s)
      def query() = CdcApplier.snapshot(s, store)
        .filter($"o_custkey" >= 10L && $"o_custkey" <= 30L)
        .select(o.columns.map(col).toIndexedSeq: _*)
      // leg 1: the hash index cannot serve a contiguous range — decline
      GraftIndexRoute.register(store, "o_custkey", hashIdx)
      try {
        val d0 = GraftIndexRoute.declined
        val f0 = GraftIndexRoute.fired
        query().queryExecution.optimizedPlan
        require(GraftIndexRoute.declined > d0 && GraftIndexRoute.fired == f0,
          "a range over a HASH-bucketed index must decline")
      } finally GraftIndexRoute.unregister(store, "o_custkey")
      // leg 2: the range-bucketed index routes the same predicate
      GraftIndexRoute.register(store, "o_custkey", rangeIdx)
      try {
        val f1 = GraftIndexRoute.fired
        val routed = query().collect()
        require(GraftIndexRoute.fired > f1,
          "the BETWEEN must route over the range-bucketed index")
        GraftIndexRoute.unregister(store, "o_custkey")
        val plain = query().collect()
        require(routed.map(_.toString).sorted.toSeq ==
          plain.map(_.toString).sorted.toSeq,
          "routed and unrouted range answers must be identical")
        GraftIndexRoute.register(store, "o_custkey", rangeIdx)
        query()
          .withColumn("range_fired", lit(true))
          .withColumn("hash_declined", lit(true))
          .orderBy($"o_orderkey")
      } finally GraftIndexRoute.unregister(store, "o_custkey")
    }),

    // DELETION VECTORS FOR COPY-ON-WRITE (q275; public design points:
    // Delta deletion vectors / Iceberg equality-delete files): a 1-row
    // DELETE on a COW bucket used to rewrite the whole bucket; the only
    // alternative was switching the table to MOR. applyBatchDv closes the
    // middle: per-bucket key-tombstone files APPEND (the MOR rename
    // primitive), `.graft_meta` flags the outstanding count, and every
    // reader resolves latest-per-key until a rewrite folds the vectors.
    // In-gate requires: (a) the DV delete rewrites NOTHING — every
    // pre-existing data file survives by name, only dv- files appear;
    // (b) point lookups mask deleted keys immediately; (c) a later upsert
    // at a higher position RESURRECTS its key (ordinary position race) and
    // folds its buckets in passing; (d) compact folds table-wide — flag
    // cleared, zero dv- files left, answers unchanged; (e) a stale
    // replayed vector below the advanced horizon DISCARDS (no
    // resurrection, the applyBatch horizon contract). Oracle: the final
    // lifecycle state replayed declaratively. 100 TB: a k-row delete
    // costs k tombstone rows + a rename per touched bucket, not the
    // buckets' rewrite.
    "q275_deletion_vectors" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val target = Files.createTempDirectory("graft_cdc").toString + "/orders_dv"
      val opts = CdcApplier.Options(Seq("o_orderkey"), numBuckets = 8)
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), target, opts)
      val hconf = s.sparkContext.hadoopConfiguration
      val tpath = new org.apache.hadoop.fs.Path(target)
      val fs = tpath.getFileSystem(hconf)
      def bucketFiles(): Map[Int, Set[String]] =
        CdcApplier.bucketIds(fs, tpath).map { b =>
          b -> fs.listStatus(new org.apache.hadoop.fs.Path(target, s"graft_bucket=$b"))
            .filter(FileStats.isDataFile).map(_.getPath.getName).toSet
        }.toMap
      def metaNow = CdcApplier.TargetMeta.read(hconf, tpath).get
      val before = bucketFiles()
      val delKeys = o.filter($"o_orderkey" % 10 === 3)
      val nDel = delKeys.count()
      CdcApplier.applyBatchDv(s,
        ChangeFeed.deletes(delKeys, $"o_orderkey" * 10 + 5), target, opts)
      val after = bucketFiles()
      require(before.forall { case (b, fl) => fl.subsetOf(after(b)) },
        "a DV delete must not rewrite any pre-existing data file")
      require(after.exists { case (b, fl) =>
        (fl -- before.getOrElse(b, Set.empty)).exists(_.startsWith("dv-")) },
        "the delete must land as appended dv- tombstone files")
      require(metaNow.dv.contains(nDel),
        s"meta must flag the outstanding vector count, got ${metaNow.dv}")
      // reads mask immediately: 13 is deleted (and never resurrected), 14 lives
      val masked = CdcApplier.pointLookup(s, target,
        Seq(13L).toDF("o_orderkey")).count()
      require(masked == 0L, "a point lookup must mask a dv-deleted key")
      val live = CdcApplier.pointLookup(s, target,
        Seq(14L).toDF("o_orderkey")).count()
      require(live == 1L, "a live key still answers")
      // a later upsert resurrects its key (position race) + folds its buckets
      CdcApplier.applyBatch(s, ChangeFeed.updates(o.filter($"o_orderkey" % 20 === 3),
        Map("o_totalprice" -> ($"o_totalprice" * 2.0)), $"o_orderkey" * 10 + 8),
        target, opts)
      val back = CdcApplier.pointLookup(s, target, Seq(23L).toDF("o_orderkey")).count()
      require(back == 1L, "an upsert above the vector's position resurrects the key")
      // compact folds: flag cleared, zero dv- files, horizon advanced
      CdcApplier.compact(s, target, Long.MaxValue / 2)
      require(metaNow.dv.isEmpty, "compact must clear the dv flag")
      require(bucketFiles().values.forall(_.forall(!_.startsWith("dv-"))),
        "compact must fold every dv- file away")
      // a stale replayed vector below the horizon discards — no resurrection
      // guard needed beyond the one every apply already enforces
      val replayed = CdcApplier.applyBatchDv(s,
        ChangeFeed.deletes(delKeys, $"o_orderkey" * 10 + 5), target, opts)
      require(replayed.isEmpty, "a stale vector below the horizon must discard")
      require(CdcApplier.pointLookup(s, target, Seq(23L).toDF("o_orderkey"))
        .count() == 1L, "the resurrected key survives the stale replay")
      CdcApplier.snapshot(s, target)
        .select($"o_orderkey", $"o_totalprice".as("px"))
        .withColumn("appended_only", lit(true))
        .withColumn("folded", lit(true))
        .withColumn("stale_discarded", lit(true))
        .orderBy($"o_orderkey")
    }),

    // SORTED MOR COMPACTION (q276; the q262 sorted-SPJ story finished on
    // merge-on-read): the scan hard-refused to report order on MOR because
    // live delta chains are unordered — correct, but compactMor collapses
    // every bucket to ONE resolved, now-SORTED file, so until the next
    // delta lands the table is exactly as joinable as sorted COW. compactMor
    // now writes sorted and records it; every delta append / vacuum /
    // fast-forward CLEARS the claim before new versions become visible; and
    // the V2 scan additionally drops the resolve on a proven-compacted
    // table (one version per key — the tombstone-filter reader streams in
    // file order). In-gate: q262's join shape on a MOR fact POST-compaction
    // plans with NO Exchange and NO Sort; a fresh delta flips the plan back
    // to a re-sorting (and resolving) read — both directions asserted, plus
    // the meta flag's set/clear transitions. Oracle: the full lifecycle
    // join replay. 100 TB: the compaction the deployment already runs now
    // also buys every downstream co-bucketed join its Sort back.
    "q276_sorted_mor_compact" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val whRoot = graftCatRoot(s)
      Seq("orders_smc", "cust_smc").foreach(t =>
        s.sql(s"DROP TABLE IF EXISTS q245cat.prod.$t"))
      s.sql(s"""CREATE TABLE q245cat.prod.orders_smc (${o.schema.toDDL})
                OPTIONS (pk 'o_custkey,o_orderkey', bucketCols 'o_custkey',
                         buckets '8', storage 'mor')""")
      s.sql(s"""CREATE TABLE q245cat.prod.cust_smc (${c.schema.toDDL})
                OPTIONS (pk 'c_custkey', buckets '8')""")
      val fact = s"$whRoot/prod/orders_smc"
      val dim = s"$whRoot/prod/cust_smc"
      val oOpts = CdcApplier.Options(Seq("o_custkey", "o_orderkey"),
        bucketCols = Some(Seq("o_custkey")), numBuckets = 8)
      val cOpts = CdcApplier.Options(Seq("c_custkey"), numBuckets = 8)
      CdcApplier.applyBatchMor(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), fact, oOpts)
      CdcApplier.applyBatchMor(s, ChangeFeed.updates(o.filter($"o_orderkey" % 7 === 0),
        Map("o_totalprice" -> ($"o_totalprice" * 1.2)), $"o_orderkey" * 10 + 5),
        fact, oOpts)
      CdcApplier.applyBatchMor(s, ChangeFeed.deletes(o.filter($"o_orderkey" % 13 === 0),
        $"o_orderkey" * 10 + 7), fact, oOpts)
      CdcApplier.applyBatch(s, ChangeFeed.inserts(c, $"c_custkey" * 10), dim, cOpts)
      CdcApplier.applyBatch(s, ChangeFeed.deletes(c.filter($"c_custkey" % 10 === 0),
        $"c_custkey" * 10 + 5), dim, cOpts)
      val hconf = s.sparkContext.hadoopConfiguration
      def factMeta = CdcApplier.TargetMeta.read(hconf,
        new org.apache.hadoop.fs.Path(fact)).get
      require(factMeta.sorted.isEmpty, "a live mor delta chain claims no order")
      CdcApplier.compactMor(s, fact)
      require(factMeta.sorted.contains(Seq("o_custkey", "o_orderkey")),
        s"compactMor must record the bucket-key sort, got ${factMeta.sorted}")
      val confs = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        def joined() = s.sql(
          s"""SELECT o.o_orderkey, o.o_custkey, c.c_name, o.o_totalprice AS px
              FROM q245cat.prod.orders_smc o
              JOIN q245cat.prod.cust_smc c ON o.o_custkey = c.c_custkey""")
        val spj = joined()
        spj.queryExecution.toRdd.count()
        val plan = spj.queryExecution.executedPlan.toString
        require(!plan.contains("Exchange"),
          s"the compacted-mor co-bucketed join must not shuffle:\n$plan")
        require(!plan.contains("Sort ["),
          s"a COMPACTED mor fact reports its order — no re-sort:\n$plan")
        require(plan.contains("GraftBatchScan"),
          s"expected both sides on the key-grouped Batch leg:\n$plan")
        // the fresh delta clears the claim and flips the plan back
        val repriced = o.withColumn("o_totalprice",
          when($"o_orderkey" % 7 === 0, $"o_totalprice" * 1.2)
            .otherwise($"o_totalprice"))
        CdcApplier.applyBatchMor(s,
          ChangeFeed.updates(
            repriced.filter($"o_orderkey" % 5 === 0 && $"o_orderkey" % 13 =!= 0),
            Map("o_totalprice" -> ($"o_totalprice" * 1.1)), $"o_orderkey" * 10 + 9),
          fact, oOpts)
        require(factMeta.sorted.isEmpty,
          "a fresh delta must clear the compacted-order claim")
        val mor = joined()
        mor.queryExecution.toRdd.count()
        val morPlan = mor.queryExecution.executedPlan.toString
        require(!morPlan.contains("Exchange"),
          s"the delta'd fact still aligns by bucket — no shuffle:\n$morPlan")
        require(morPlan.contains("Sort ["),
          s"a live delta chain is unordered again and must re-sort:\n$morPlan")
        joined()
          .withColumn("compacted_zero_sort", lit(true))
          .withColumn("delta_resorts", lit(true))
          .orderBy($"o_orderkey")
      } finally saved.foreach { case (k, v) =>
        v.fold(s.conf.unset(k))(s.conf.set(k, _))
      }
    }),

    // BRANCH READS ON THE SQL SURFACE + WAP CAPSTONE (q277; Iceberg's
    // branch-read spelling over q264's branches): Branch.snapshot/
    // pointLookup were API-only — a release engineer wants the audit read
    // as plain SQL. `VERSION AS OF '<branch>'` (and the `branch` read
    // option) now serves the BRANCH LINEAGE — main as of the branch point
    // overlaid with the staged deltas, resolved latest-per-key — through
    // the connector, bucket-pruned on both sides. The gate runs the WAP
    // release end-to-end THROUGH SQL: CALL branch → stage two release
    // batches → audit via VERSION AS OF (counts + exact row set) while a
    // CONCURRENT reader (à la q115) hammers main and must observe zero
    // deviation from the pre-release state → CALL fast_forward → main
    // serves the audited lineage bit-for-bit (the collected audit rows ARE
    // the published rows) and the branch read refuses (the name is gone).
    // Oracle: the published lineage replayed declaratively. 100 TB: the
    // audit read costs the touched buckets, the publish costs renames.
    "q277_branch_sql_wap" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_wapsql")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_wapsql (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '16', storage 'mor')""")
      val target = s"$whRoot/prod/orders_wapsql"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      CdcApplier.applyBatchMor(s, ChangeFeed.inserts(o, lit(100L)), target, opts)
      s.sql("CALL q245cat.system.branch(table => 'prod.orders_wapsql', name => 'audit')")
      val baseCount = o.count()
      @volatile var deviations = 0
      @volatile var reads = 0
      @volatile var stop = false
      val reader = new Thread(() => {
        while (!stop) {
          try {
            val n = s.sql("SELECT count(*) FROM q245cat.prod.orders_wapsql")
              .first.getLong(0)
            reads += 1
            if (n != baseCount) deviations += 1
          } catch { case _: Throwable => deviations += 1 }
          Thread.sleep(20)
        }
      }, "q277-main-reader")
      reader.setDaemon(true)
      reader.start()
      val audRows =
        try {
          Branch.applyBatch(s, target, "audit",
            ChangeFeed.updates(o.filter($"o_orderkey" % 3 === 0),
              Map("o_totalprice" -> ($"o_totalprice" * 1.25)), lit(200L)))
          val repriced = o.withColumn("o_totalprice",
            when($"o_orderkey" % 3 === 0, $"o_totalprice" * 1.25)
              .otherwise($"o_totalprice"))
          Branch.applyBatch(s, target, "audit",
            ChangeFeed.deletes(repriced.filter($"o_orderkey" % 11 === 0), lit(300L)))
          // the AUDIT: branch lineage through plain SQL
          val audited = s.sql(
            """SELECT o_orderkey, o_totalprice AS px
               FROM q245cat.prod.orders_wapsql VERSION AS OF 'audit'""")
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
          require(audited.size ==
            o.filter($"o_orderkey" % 11 =!= 0).count().toInt,
            "the audit read must serve the staged lineage's row count")
          audited
        } finally { stop = true; reader.join(30000) }
      require(reads > 0 && deviations == 0,
        s"main readers must be pinned unchanged mid-stage ($reads reads, " +
          s"$deviations deviations)")
      s.sql("CALL q245cat.system.fast_forward(table => 'prod.orders_wapsql', " +
        "name => 'audit')")
      val branchGone = scala.util.Try(s.sql(
        """SELECT count(*) FROM q245cat.prod.orders_wapsql
           VERSION AS OF 'audit'""").collect()).isFailure
      require(branchGone, "the branch read must refuse once fast-forwarded away")
      val published = s.sql(
        """SELECT o_orderkey, o_totalprice AS px
           FROM q245cat.prod.orders_wapsql""")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      require(published == audRows,
        "what main publishes must be BIT-FOR-BIT what the audit read approved")
      s.sql("""SELECT o_orderkey, o_totalprice AS px
               FROM q245cat.prod.orders_wapsql""")
        .withColumn("pinned_mid_stage", lit(deviations == 0))
        .withColumn("branch_read_gone", lit(branchGone))
        .orderBy($"o_orderkey")
    }),

    // SQL WRITES TO A BRANCH (q287; Iceberg's `t.branch_<name>` write
    // spelling): q277 reads branches via SQL but STAGING still went
    // through the API — a release engineer wants the stage leg as the
    // DML they already type. The catalog now resolves
    // `cat.ns.t.branch_<name>` to a branch-bound table: SELECT serves the
    // branch lineage, and INSERT / UPDATE / MERGE / DELETE stage through
    // Branch.applyBatch with positions self-assigned past the branch
    // point — main untouched until fast_forward. The gate runs the FULL
    // WAP lifecycle with every stage statement as SQL: UPDATE reprices,
    // row-level DELETE trims, MERGE composes on the already-repriced
    // lineage (matched UPDATE reads target values) and births new keys,
    // INSERT appends more — while a CONCURRENT main reader observes zero
    // deviation; the audit read (both spellings: the branch ident and
    // VERSION AS OF) approves the lineage; fast_forward publishes it
    // bit-for-bit; the branch spelling then refuses. Oracle: the
    // declarative replay of all four statements. 100 TB: the release flow
    // is plain DML + one CALL — staging costs the statements' own
    // bucket-pruned applies, publish costs renames.
    "q287_branch_sql_writes" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_wap2")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_wap2 (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '16', storage 'mor')""")
      val target = s"$whRoot/prod/orders_wap2"
      CdcApplier.applyBatchMor(s, ChangeFeed.inserts(o, lit(100L)), target,
        CdcApplier.Options(Seq("o_orderkey")))
      s.sql("CALL q245cat.system.branch(table => 'prod.orders_wap2', name => 'release')")
      val branchT = "q245cat.prod.orders_wap2.branch_release"
      val baseCount = o.count()
      @volatile var deviations = 0
      @volatile var reads = 0
      @volatile var stop = false
      val reader = new Thread(() => {
        while (!stop) {
          try {
            val n = s.sql("SELECT count(*) FROM q245cat.prod.orders_wap2")
              .first.getLong(0)
            reads += 1
            if (n != baseCount) deviations += 1
          } catch { case _: Throwable => deviations += 1 }
          Thread.sleep(20)
        }
      }, "q287-main-reader")
      reader.setDaemon(true)
      reader.start()
      val audRows =
        try {
          // 1. UPDATE: reprice %3 on the branch
          s.sql(s"""UPDATE $branchT SET o_totalprice = o_totalprice * 1.25
                    WHERE o_orderkey % 3 = 0""")
          // 2. row-level DELETE (untranslatable predicate): trim %11
          s.sql(s"DELETE FROM $branchT WHERE o_orderkey % 11 = 0")
          // 3. MERGE: matched UPDATE composes on the branch's CURRENT
          //    (already-repriced) values; NOT MATCHED births +10M keys
          o.filter($"o_orderkey" % 5 === 2 && $"o_orderkey" % 11 =!= 0)
            .unionByName(o.filter($"o_orderkey" % 250 === 0)
              .withColumn("o_orderkey", $"o_orderkey" + 10000000L))
            .createOrReplaceTempView("q287_src")
          s.sql(s"""MERGE INTO $branchT t USING q287_src s
                    ON t.o_orderkey = s.o_orderkey
                    WHEN MATCHED THEN
                      UPDATE SET o_totalprice = t.o_totalprice * 1.1
                    WHEN NOT MATCHED THEN
                      INSERT (o_orderkey, o_custkey, o_orderstatus,
                              o_totalprice, o_orderdate, o_orderpriority,
                              _graft_pos)
                      VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus,
                              s.o_totalprice, s.o_orderdate,
                              s.o_orderpriority, CAST(NULL AS BIGINT))""")
          // 4. INSERT INTO the branch: +20M keys
          o.filter($"o_orderkey" % 500 === 0)
            .withColumn("o_orderkey", $"o_orderkey" + 20000000L)
            .createOrReplaceTempView("q287_ins")
          s.sql(s"""INSERT INTO $branchT
                    SELECT *, CAST(NULL AS BIGINT) FROM q287_ins""")
          // audit through BOTH read spellings — one lineage
          val viaIdent = s.sql(
            s"SELECT o_orderkey, o_totalprice AS px FROM $branchT")
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
          val viaAsOf = s.sql(
            """SELECT o_orderkey, o_totalprice AS px
               FROM q245cat.prod.orders_wap2 VERSION AS OF 'release'""")
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
          require(viaIdent == viaAsOf,
            "the branch ident spelling and VERSION AS OF must serve one lineage")
          viaIdent
        } finally { stop = true; reader.join(30000) }
      require(reads > 0 && deviations == 0,
        s"main readers must be pinned unchanged mid-stage ($reads reads, " +
          s"$deviations deviations)")
      s.sql("CALL q245cat.system.fast_forward(table => 'prod.orders_wap2', " +
        "name => 'release')")
      val branchGone = scala.util.Try(
        s.sql(s"SELECT count(*) FROM $branchT").collect()).isFailure
      require(branchGone, "the branch spelling must refuse once fast-forwarded")
      val published = s.sql(
        """SELECT o_orderkey, o_totalprice AS px
           FROM q245cat.prod.orders_wap2""")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      require(published == audRows,
        "main must publish BIT-FOR-BIT what the SQL audit approved")
      s.sql("""SELECT o_orderkey, o_totalprice AS px
               FROM q245cat.prod.orders_wap2""")
        .withColumn("stage_was_sql", lit(true))
        .withColumn("pinned_mid_stage", lit(deviations == 0))
        .withColumn("ident_read_matches", lit(true))
        .withColumn("branch_gone", lit(branchGone))
        .orderBy($"o_orderkey")
    }),

    // ---- q288: ADDITIVE SCHEMA EVOLUTION THROUGH SQL MERGE/INSERT (the
    //      S4 path q160 proved on the applier, surfaced on the statements
    //      a user actually types; public design points: Spark 4's own
    //      `MERGE ... WITH SCHEMA EVOLUTION` + TableCapability
    //      AUTOMATIC_SCHEMA_EVOLUTION, and Delta's schema.autoMerge conf /
    //      mergeSchema-append semantics for INSERT). Five legs, one store:
    //      (1) explicit syntax: `MERGE WITH SCHEMA EVOLUTION INTO` carries
    //          a NEW o_channel column — Spark computes the AddColumn,
    //          routes it through GraftCatalog.alterTable (the fenced S4
    //          additive commit), reloads, and the merge lands; untouched
    //          rows surface NULL;
    //      (2) the same syntax under NOT MATCHED: o_score evolves, matched
    //          keys score, the insert action births +10M keys carrying the
    //          evolved columns (the capability is a PREREQUISITE Spark
    //          checks, never a trigger — graft tables advertise it always);
    //      (3) a PLAIN merge naming yet another new column REFUSES at
    //          analysis (the reference's fail-fast drift posture stays the
    //          default; the statement syntax is the explicit opt-in);
    //      (4) old-schema statement replay: a merge whose SOURCE has the
    //          ORIGINAL schema converges post-evolution — assignments
    //          align, evolved columns ride through untouched (q161's
    //          restart-on-DDL discipline at the statement level);
    //      (5) INSERT: with the conf on, ACCEPT_ANY_SCHEMA admits a BY
    //          NAME frame carrying a new o_tag column AND omitting most
    //          stored columns — extra evolves, absent NULL-pads, PK
    //          required; conf off, the same INSERT refuses.
    //      Oracle: the whole lifecycle replayed declaratively. 100 TB: the
    //      evolving batch is the applier's table-wide rewrite (rare,
    //      DDL-driven); every non-evolving statement stays cost ∝ touched
    //      buckets.
    "q288_merge_schema_evolution" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_evosql")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_evosql (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8')""")
      val target = s"$whRoot/prod/orders_evosql"
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, lit(10L)), target,
        CdcApplier.Options(Seq("o_orderkey")))
      val tbl = "q245cat.prod.orders_evosql"
      // leg 1: explicit WITH SCHEMA EVOLUTION syntax
      o.filter($"o_orderkey" % 3 === 0)
        .select($"o_orderkey", ($"o_totalprice" * 2.0).as("o_totalprice"),
          concat(lit("ch-"), ($"o_orderkey" % 7).cast("string")).as("o_channel"))
        .createOrReplaceTempView("q288_src1")
      s.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $tbl t USING q288_src1 s
                ON t.o_orderkey = s.o_orderkey
                WHEN MATCHED THEN UPDATE SET
                  o_totalprice = s.o_totalprice, o_channel = s.o_channel""")
      require(s.table(tbl).columns.contains("o_channel"),
        "WITH SCHEMA EVOLUTION must ALTER-add the new source column")
      // leg 2: the syntax with a NOT MATCHED insert action birthing rows
      // that carry the evolved columns
      o.filter($"o_orderkey" % 5 === 1)
        .withColumn("o_score", ($"o_orderkey" % 100) / lit(10.0))
        .unionByName(o.filter($"o_orderkey" % 200 === 0)
          .withColumn("o_score", ($"o_orderkey" % 100) / lit(10.0))
          .withColumn("o_orderkey", $"o_orderkey" + 10000000L))
        .createOrReplaceTempView("q288_src2")
      s.sql(s"""MERGE WITH SCHEMA EVOLUTION INTO $tbl t USING q288_src2 s
                ON t.o_orderkey = s.o_orderkey
                WHEN MATCHED THEN UPDATE SET o_score = s.o_score
                WHEN NOT MATCHED THEN INSERT
                  (o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, o_orderpriority, o_channel, o_score,
                   _graft_pos)
                VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus,
                  s.o_totalprice, s.o_orderdate, s.o_orderpriority,
                  CAST(NULL AS STRING), s.o_score, CAST(NULL AS BIGINT))""")
      require(s.table(tbl).columns.contains("o_score"),
        "the evolving merge's insert action must land the evolved column")
      // leg 3: a PLAIN merge — fail-fast drift posture stays the default
      o.limit(5).withColumn("o_bad", lit(1))
        .createOrReplaceTempView("q288_src3")
      val refused = scala.util.Try(s.sql(
        s"""MERGE INTO $tbl t USING q288_src3 s
            ON t.o_orderkey = s.o_orderkey
            WHEN MATCHED THEN UPDATE SET o_bad = s.o_bad""")).isFailure
      require(refused, "a new column without WITH SCHEMA EVOLUTION must refuse")
      // leg 4: old-schema source replays and converges post-evolution
      o.filter($"o_orderkey" % 7 === 0).createOrReplaceTempView("q288_src4")
      s.sql(s"""MERGE INTO $tbl t USING q288_src4 s
                ON t.o_orderkey = s.o_orderkey
                WHEN MATCHED THEN UPDATE SET
                  o_totalprice = t.o_totalprice + 1.0""")
      // leg 5: INSERT by name — new column + absent stored columns
      val insRefused = scala.util.Try(s.sql(
        s"""INSERT INTO $tbl
            SELECT o_orderkey + 20000000 AS o_orderkey,
                   o_totalprice AS o_totalprice,
                   concat('T-', CAST(o_orderkey % 9 AS STRING)) AS o_tag
            FROM q288_src4""")).isFailure
      require(insRefused, "INSERT with a new column must refuse with the conf off")
      try {
        s.conf.set("spark.graft.schema.autoMerge", "true")
        o.filter($"o_orderkey" % 500 === 0)
          .select(($"o_orderkey" + 20000000L).as("o_orderkey"),
            $"o_totalprice",
            concat(lit("T-"), ($"o_orderkey" % 9).cast("string")).as("o_tag"))
          .createOrReplaceTempView("q288_src5")
        s.sql(s"INSERT INTO $tbl SELECT * FROM q288_src5")
      } finally s.conf.unset("spark.graft.schema.autoMerge")
      s.sql(s"""SELECT o_orderkey, o_totalprice AS px, o_channel, o_score,
                       o_tag
                FROM $tbl""").orderBy($"o_orderkey")
    }),

    // COLUMN-LEVEL CBO STATISTICS (q278; public design point: ANALYZE TABLE
    // ... COMPUTE STATISTICS FOR COLUMNS feeding Spark's cost-based
    // optimizer): the connector reported BYTES (q236 flips broadcasts) but
    // Spark's CBO can consume per-leaf row counts and per-column NDV/min/
    // max — the numbers join REORDER and join-cardinality estimation run
    // on. `CALL system.analyze` computes them in one distributed pass and
    // the scans serve them via SupportsReportStatistics.columnStats. The
    // gate drives both CBO decisions through the SAME queries before and
    // after the analyze (the only delta IS the statistics):
    // (a) BROADCAST: a mor dim with 8x superseded history + half its keys
    //     deleted — raw file bytes blow the threshold (no broadcast);
    //     analyzed live-rows x width sizes it truthfully (broadcast fires);
    // (b) REORDER: a 3-table join written worst-first ((big JOIN big) JOIN
    //     tiny) — without leaf row counts CostBasedJoinReorder bails and
    //     the written order stands; with them the tiny dim joins FIRST;
    // (c) the leaf's optimizer stats carry the exact live row count + NDV;
    // (d) answers identical in all four plan shapes. Oracle: the join
    // replay. 100 TB: the difference between a shuffle of a fact-sized
    // intermediate and a broadcast hash join, chosen from real numbers.
    "q278_cbo_stats" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val whRoot = graftCatRoot(s)
      Seq("orders_cbo", "orders_cbo2", "cust_cbo", "cust_cbo_tiny").foreach(t =>
        s.sql(s"DROP TABLE IF EXISTS q245cat.prod.$t"))
      s.sql(s"""CREATE TABLE q245cat.prod.orders_cbo (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8')""")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_cbo2 (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8')""")
      s.sql(s"""CREATE TABLE q245cat.prod.cust_cbo (${c.schema.toDDL})
                OPTIONS (pk 'c_custkey', buckets '8', storage 'mor')""")
      s.sql(s"""CREATE TABLE q245cat.prod.cust_cbo_tiny (${c.schema.toDDL})
                OPTIONS (pk 'c_custkey', buckets '8')""")
      val oOpts = CdcApplier.Options(Seq("o_orderkey"), numBuckets = 8)
      val cOpts = CdcApplier.Options(Seq("c_custkey"), numBuckets = 8)
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10),
        s"$whRoot/prod/orders_cbo", oOpts)
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10),
        s"$whRoot/prod/orders_cbo2", oOpts)
      val dimDir = s"$whRoot/prod/cust_cbo"
      CdcApplier.applyBatchMor(s, ChangeFeed.inserts(c, lit(100L)), dimDir, cOpts)
      // 7 superseded rounds: file bytes ~8x the live data
      (1 to 7).foreach { i =>
        CdcApplier.applyBatchMor(s, ChangeFeed.updates(c,
          Map("c_acctbal" -> ($"c_acctbal" * (1.0 + i / 100.0))),
          lit(100L + i * 100L)), dimDir, cOpts)
      }
      CdcApplier.applyBatchMor(s, ChangeFeed.deletes(c.filter($"c_custkey" % 2 === 0),
        lit(900L)), dimDir, cOpts)
      CdcApplier.applyBatch(s, ChangeFeed.inserts(c.filter($"c_custkey" % 20 === 3),
        lit(100L)), s"$whRoot/prod/cust_cbo_tiny", cOpts)
      val hconf = s.sparkContext.hadoopConfiguration
      def bytesOf(d: String): Long = {
        val p = new org.apache.hadoop.fs.Path(d)
        val bfs = p.getFileSystem(hconf)
        CdcApplier.bucketIds(bfs, p).map { b =>
          bfs.listStatus(new org.apache.hadoop.fs.Path(d, s"graft_bucket=$b"))
            .filter(FileStats.isDataFile).map(_.getLen).sum
        }.sum
      }
      // the threshold sits BELOW both sides' raw bytes (nothing broadcasts
      // on byte statistics) but ABOVE the dim's analyzed live-rows x width
      // (the truthful number the analyze unlocks)
      val threshold = math.min(bytesOf(dimDir), bytesOf(s"$whRoot/prod/orders_cbo")) / 2
      val confs = Seq(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.cbo.joinReorder.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> threshold.toString)
      val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        def flipQ = s.sql(
          """SELECT o.o_orderkey, c.c_name
             FROM q245cat.prod.orders_cbo o
             JOIN q245cat.prod.cust_cbo c ON o.o_custkey = c.c_custkey""")
        def reorderQ = s.sql(
          """SELECT count(*) AS n
             FROM q245cat.prod.orders_cbo a
             JOIN q245cat.prod.orders_cbo2 b ON a.o_custkey = b.o_custkey
             JOIN q245cat.prod.cust_cbo_tiny t ON a.o_custkey = t.c_custkey""")
        def planOf(df: DataFrame): String = df.queryExecution.executedPlan.toString
        // ---- BEFORE the analyze: bytes-only statistics -------------------
        val prePlan = planOf(flipQ)
        require(!prePlan.contains("BroadcastHashJoin"),
          s"unanalyzed: raw file bytes exceed the threshold — no broadcast:\n$prePlan")
        val preReorder = planOf(reorderQ)
        require(preReorder.indexOf("orders_cbo2") >= 0 &&
          preReorder.indexOf("cust_cbo_tiny") >= 0 &&
          preReorder.indexOf("orders_cbo2") < preReorder.indexOf("cust_cbo_tiny"),
          s"unanalyzed: no leaf row counts — the written join order stands:\n$preReorder")
        val preRows = flipQ.collect().map(r => (r.getLong(0), r.getString(1))).toSet
        val preCount = reorderQ.collect()(0).getLong(0)
        // ---- the ANALYZE ---------------------------------------------------
        Seq("orders_cbo", "orders_cbo2", "cust_cbo", "cust_cbo_tiny").foreach(t =>
          s.sql(s"CALL q245cat.system.analyze(table => 'prod.$t')").collect())
        val liveRows = c.filter($"c_custkey" % 2 =!= 0).count()
        // (c) the leaf's optimizer stats: exact live rows + exact PK NDV
        val leafStats = s.sql("SELECT c_custkey, c_name FROM q245cat.prod.cust_cbo")
          .queryExecution.optimizedPlan.stats
        require(leafStats.rowCount.contains(BigInt(liveRows)),
          s"analyzed leaf must carry the live row count: ${leafStats.rowCount}")
        val ndv = leafStats.attributeStats.toSeq
          .find(_._1.name == "c_custkey").flatMap(_._2.distinctCount)
        require(ndv.contains(BigInt(liveRows)),
          s"analyzed leaf must carry the PK's exact NDV: $ndv")
        // ---- AFTER: the same queries, different plans, same answers ------
        val postPlan = planOf(flipQ)
        require(postPlan.contains("BroadcastHashJoin"),
          s"analyzed: live-rows x width is under the threshold — broadcast:\n$postPlan")
        val postReorder = planOf(reorderQ)
        require(postReorder.indexOf("cust_cbo_tiny") <
          postReorder.indexOf("orders_cbo2"),
          s"analyzed: the tiny dim must join FIRST:\n$postReorder")
        val postRows = flipQ.collect().map(r => (r.getLong(0), r.getString(1))).toSet
        require(postRows == preRows && reorderQ.collect()(0).getLong(0) == preCount,
          "statistics steer plans, never answers")
        flipQ
          .withColumn("stats_broadcast", lit(true))
          .withColumn("stats_reorder", lit(true))
          .withColumn("same_answers", lit(true))
          .orderBy($"o_orderkey", $"c_name")
      } finally saved.foreach { case (k, v) =>
        v.fold(s.conf.unset(k))(s.conf.set(k, _))
      }
    }),

    // EQUI-HEIGHT HISTOGRAMS TO CBO (q285; ANALYZE ... COMPUTE STATISTICS
    // with spark.sql.statistics.histogram.enabled, served through the V2
    // colstats Histogram interface): NDV-only statistics estimate equality
    // selectivity UNIFORMLY (rows/ndv) — on a skewed column the heavy
    // value looks tiny and CBO happily broadcasts a frame that is most of
    // the table. ANALYZE with histogram_bins derives k equi-height bins
    // per numeric/date column from the distributed exact-quantile engine
    // (deterministic — the q279 discipline; a heavy value occupies a run
    // of singleton bins) plus one bin-keyed grouped NDV pass — never an
    // Expand. In-gate: the same skewed-filter join is planned under
    // NDV-only stats (estimated cardinality << table, BroadcastHashJoin
    // chosen — the wrong call) and under histogram stats (estimate flips
    // to ~the heavy fraction, the broadcast is gone), with the estimates
    // require-pinned from the optimized plan's own stats and answers
    // identical. Oracle: the declarative self-join. 100 TB: a 90%-heavy
    // key no longer masquerades as rows/ndv — the exact shuffle-vs-
    // broadcast call the scale story turns on, costed at two column-
    // pruned passes per histogram column at ANALYZE time only.
    "q285_cbo_histogram" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_hist")
      // seg: 90% of rows carry the heavy value 0, the rest stay distinct
      val oh = o.withColumn("seg",
        when($"o_orderkey" % 10 < 9, 0L).otherwise($"o_orderkey"))
      s.sql(s"""CREATE TABLE q245cat.prod.orders_hist (${oh.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8')""")
      val tdir = s"$whRoot/prod/orders_hist"
      CdcApplier.applyBatch(s, ChangeFeed.inserts(oh, $"o_orderkey" * 10), tdir,
        CdcApplier.Options(Seq("o_orderkey"), numBuckets = 8))
      val total = o.count()
      val confs = Seq(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "8192")
      val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        def q = s.sql(
          """SELECT f.o_orderkey, g.o_totalprice
             FROM q245cat.prod.orders_hist f
             JOIN q245cat.prod.orders_hist g ON f.o_orderkey = g.o_orderkey
             WHERE f.seg = 0""")
        // the skew-filtered leg's estimated cardinality, from the
        // optimizer's own stats visitor
        def segEstimate(df: DataFrame): BigInt =
          df.queryExecution.optimizedPlan.collect {
            case flt: org.apache.spark.sql.catalyst.plans.logical.Filter
              if flt.condition.references.exists(_.name == "seg") =>
              flt.stats.rowCount
          }.flatten.min
        // ---- NDV-only statistics: uniform rows/ndv — the wrong call ----
        s.sql("CALL q245cat.system.analyze(table => 'prod.orders_hist')").collect()
        val pre = q
        val preEst = segEstimate(pre)
        require(preEst < total / 20,
          s"uniform NDV estimation must under-count the heavy value: $preEst of $total")
        require(pre.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
          "under-counted, the filtered fact broadcasts")
        val preRows = pre.collect().map(_.toString).sorted.toSeq
        // ---- histogram statistics: the skew is visible -----------------
        s.sql("""CALL q245cat.system.analyze(table => 'prod.orders_hist',
                 histogram_bins => 32)""").collect()
        val post = q
        val postEst = segEstimate(post)
        require(postEst > total / 2,
          s"the histogram must surface the heavy fraction: $postEst of $total")
        require(!post.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
          "the ~90% frame must not broadcast")
        require(post.collect().map(_.toString).sorted.toSeq == preRows,
          "histograms steer plans, never answers")
        q.withColumn("hist_cardinality_flip", lit(true))
          .withColumn("hist_join_flip", lit(true))
          .withColumn("same_answers", lit(true))
          .orderBy($"o_orderkey")
      } finally saved.foreach { case (k, v) =>
        v.fold(s.conf.unset(k))(s.conf.set(k, _))
      }
    }),

    // AUTO-ANALYZE CADENCE + APPROX NDV (q286; Delta's auto-compute /
    // the compactEvery-optimizeEvery pattern carried to statistics): q278
    // proved analyzed stats flip plans, but the ANALYZE was a manual CALL
    // — a streaming deployment's stats go stale as the table churns. With
    // `analyzeEvery = N` in PipelineOptions the pipeline re-analyzes every
    // N applied batches, in APPROX mode by default: exact NDV plans an
    // Expand that multiplies the scan by the tracked-column count, while
    // approx_count_distinct is one pass over fixed-size mergeable HLL
    // registers — the 100 TB mode, and CBO is an estimator anyway. In-gate:
    // a MOR dim accumulates heavy superseded history through the pipeline
    // surface; BEFORE the cadence fires there are no stats and raw bytes
    // block the broadcast; the Nth batch fires the cadence with NO manual
    // CALL, and the q278 broadcast flip lands on the auto-computed stats;
    // the approx NDVs are then SELF-AUDITED against an exact pass (HLL
    // default rsd ~5%; the gate pins a 15% bound), with rows exact in both
    // modes. Oracle: the declarative fact ⋈ dim join. 100 TB: statistics
    // freshness becomes a deployment knob, not an operator's memory.
    "q286_auto_analyze" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")
      val whRoot = graftCatRoot(s)
      Seq("orders_aa", "cust_aa").foreach(t =>
        s.sql(s"DROP TABLE IF EXISTS q245cat.prod.$t"))
      s.sql(s"""CREATE TABLE q245cat.prod.orders_aa (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8')""")
      s.sql(s"""CREATE TABLE q245cat.prod.cust_aa (${c.schema.toDDL})
                OPTIONS (pk 'c_custkey', buckets '8', storage 'mor')""")
      val factDir = s"$whRoot/prod/orders_aa"
      val dimDir = s"$whRoot/prod/cust_aa"
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), factDir,
        CdcApplier.Options(Seq("o_orderkey"), numBuckets = 8))
      // the dim flows through the PIPELINE surface with the analyze cadence
      val popts = graft.streaming.StreamingPipeline.PipelineOptions(
        applier = CdcApplier.Options(Seq("c_custkey"), numBuckets = 8),
        morSink = true, analyzeEvery = 5, analyzeApprox = true)
      def env(b: DataFrame) = b.withColumn("table", lit("cust_aa"))
      val feed = Seq(
        ChangeFeed.inserts(c, lit(100L))) ++
        (1 to 3).map(i => ChangeFeed.updates(c,
          Map("c_acctbal" -> ($"c_acctbal" * (1.0 + i / 100.0))),
          lit(100L + i * 100L))) :+
        ChangeFeed.deletes(c.filter($"c_custkey" % 3 === 0), lit(900L))
      // batches 0..3: history accumulates, cadence silent, NO stats yet
      feed.take(4).zipWithIndex.foreach { case (b, i) =>
        graft.streaming.StreamingPipeline.applyMicroBatch(
          s, env(b), dimDir, popts, batchId = i.toLong)
      }
      require(graft.cdc.ColumnStats.read(s, dimDir).isEmpty,
        "no stats may exist before the cadence fires")
      val hconf = s.sparkContext.hadoopConfiguration
      def bytesOf(d: String): Long = {
        val p = new org.apache.hadoop.fs.Path(d)
        val bfs = p.getFileSystem(hconf)
        CdcApplier.bucketIds(bfs, p).map { b =>
          bfs.listStatus(new org.apache.hadoop.fs.Path(d, s"graft_bucket=$b"))
            .filter(FileStats.isDataFile).map(_.getLen).sum
        }.sum
      }
      val confs = Seq(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.cbo.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" ->
          (math.min(bytesOf(dimDir), bytesOf(factDir)) / 2).toString)
      val saved = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        def flipQ = s.sql(
          """SELECT o.o_orderkey, c.c_name
             FROM q245cat.prod.orders_aa o
             JOIN q245cat.prod.cust_aa c ON o.o_custkey = c.c_custkey""")
        require(!flipQ.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
          "statless: raw file bytes exceed the threshold — no broadcast")
        // the 5th batch fires the cadence — statistics appear on their own
        graft.streaming.StreamingPipeline.applyMicroBatch(
          s, env(feed(4)), dimDir, popts, batchId = 4L)
        val auto = graft.cdc.ColumnStats.read(s, dimDir).getOrElse(
          throw new IllegalStateException("analyzeEvery must auto-persist stats"))
        require(flipQ.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
          "auto-analyzed: live rows x width is under the threshold — broadcast")
        // same answers across the two plan shapes: the broadcast plan vs
        // the same query with broadcasting disabled outright
        val steered = flipQ.collect().map(_.toString).sorted.toSeq
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        require(!flipQ.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
        require(flipQ.collect().map(_.toString).sorted.toSeq == steered,
          "auto stats steer plans, never answers")
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", confs(2)._2)
        // approx self-audit: rows exact, NDVs inside the HLL bound
        val exact = graft.cdc.ColumnStats.analyze(s, dimDir)
        require(auto.rows == exact.rows, "row counts are exact in both modes")
        exact.cols.foreach { case (cn, ex) =>
          val ap = auto.cols(cn).ndv
          require(math.abs(ap - ex.ndv).toDouble / math.max(1L, ex.ndv) <= 0.15,
            s"approx NDV for $cn out of bound: $ap vs exact ${ex.ndv}")
        }
        flipQ
          .withColumn("auto_stats", lit(true))
          .withColumn("steers_broadcast", lit(true))
          .withColumn("approx_within_bound", lit(true))
          .orderBy($"o_orderkey", $"c_name")
      } finally saved.foreach { case (k, v) =>
        v.fold(s.conf.unset(k))(s.conf.set(k, _))
      }
    }),

    // CALL system.zorder WITH SELF-DERIVED BOUNDS (q279; Delta's OPTIMIZE
    // ZORDER BY as a SQL CALL): q272's true Morton rewrite was API-only
    // with caller-supplied cell bounds. The CALL derives the 15 split
    // points per column from the table's OWN exact quantiles (q34's
    // distributed engine — exact ranks, zero sampling nondeterminism),
    // then runs the same fenced rewrite. In-gate: TWO consecutive CALLs
    // derive IDENTICAL bounds (reproducibility over the state-preserving
    // rewrite — also proving state identity the cheap way), the API form
    // with a gate-sized file target makes file-level skipping fire on BOTH
    // dimensions with the SAME derived bounds, and `sorted` stays cleared.
    // Oracle: the lifecycle replay — a lost row/version breaks the hash.
    "q279_zorder_sql" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_z9")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_z9 (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '4')""")
      val target = s"$whRoot/prod/orders_z9"
      val opts = CdcApplier.Options(Seq("o_orderkey"), numBuckets = 4)
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), target, opts)
      CdcApplier.applyBatch(s, ChangeFeed.updates(o.filter($"o_orderkey" % 3 === 0),
        Map("o_totalprice" -> ($"o_totalprice" * 1.3)), $"o_orderkey" * 10 + 5),
        target, opts)
      CdcApplier.applyBatch(s, ChangeFeed.deletes(o.filter($"o_orderkey" % 10 === 6),
        $"o_orderkey" * 10 + 7), target, opts)
      def callZ() = s.sql(
        """CALL q245cat.system.zorder(table => 'prod.orders_z9',
                                      columns => 'o_orderkey,o_custkey')""")
        .collect()(0).getString(3)
      val bounds1 = callZ()
      val bounds2 = callZ()
      require(bounds1 == bounds2 && bounds1.nonEmpty,
        s"derived bounds must be reproducible run-to-run: $bounds1 vs $bounds2")
      // the API form with a gate-sized file target: same bounds, and the
      // multi-file layout lets the q250 sidecars skip on BOTH dimensions
      val hconf = s.sparkContext.hadoopConfiguration
      val tpath = new org.apache.hadoop.fs.Path(target)
      val fs = tpath.getFileSystem(hconf)
      val totalBytes = CdcApplier.bucketIds(fs, tpath).map { b =>
        fs.listStatus(new org.apache.hadoop.fs.Path(target, s"graft_bucket=$b"))
          .filter(FileStats.isDataFile).map(_.getLen).sum
      }.sum
      val (apiBounds, _) = CdcApplier.zorderAuto(s, target,
        Seq("o_orderkey", "o_custkey"),
        targetFileBytes = math.max(4096L, totalBytes / 24))
      require(apiBounds.map(_.mkString(",")).mkString(";") == bounds1,
        "the API derivation must agree with the CALL's")
      require(CdcApplier.TargetMeta.read(hconf, tpath).get.sorted.isEmpty,
        "a Morton layout must not claim a column order")
      def coverage(f: org.apache.spark.sql.sources.Filter): (Int, Int) =
        CdcApplier.bucketIds(fs, tpath).map { b =>
          val (kept, n) = FileStats.selectBucketFiles(fs,
            new org.apache.hadoop.fs.Path(target, s"graft_bucket=$b"), Seq(f))
          (kept.size, n)
        }.reduce((a, b) => (a._1 + b._1, a._2 + b._2))
      val (kk, nk) = coverage(org.apache.spark.sql.sources.EqualTo("o_orderkey", 42L))
      val (kc, nc) = coverage(org.apache.spark.sql.sources.EqualTo("o_custkey", 42L))
      require(nk > CdcApplier.bucketIds(fs, tpath).size,
        s"zorder must have split buckets into multiple files, got $nk")
      require(kk < nk, s"orderkey predicate must skip files: $kk/$nk")
      require(kc < nc, s"custkey predicate must skip files: $kc/$nc")
      CdcApplier.snapshot(s, target)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice".as("px"))
        .withColumn("bounds_reproducible", lit(true))
        .withColumn("both_dims_skip", lit(kk < nk && kc < nc))
        .orderBy($"o_orderkey")
    }),

    // CALL system.stats (q280; the observability half of q278, exactly as
    // system.files surfaces the q250 sidecars): the persisted ANALYZE
    // statistics as a relation — per-column kind, EXACT NDV, nulls,
    // canonical min/max, widths — so an operator can SEE the numbers CBO
    // plans on (and whether they are stale) without re-running the pass.
    // In-gate: an un-analyzed table REFUSES (an empty answer would read as
    // "zero columns tracked"). Oracle: every served number recomputed
    // declaratively from the live lifecycle state — an NDV or range off by
    // one breaks the hash. Date mins/maxes pin the epoch-days canon;
    // string ones pin the base64 round-trip.
    "q280_stats_sql" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_stats")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_stats (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8')""")
      val target = s"$whRoot/prod/orders_stats"
      val opts = CdcApplier.Options(Seq("o_orderkey"), numBuckets = 8)
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), target, opts)
      CdcApplier.applyBatch(s, ChangeFeed.deletes(o.filter($"o_orderkey" % 6 === 0),
        $"o_orderkey" * 10 + 5), target, opts)
      val unanalyzed = scala.util.Try(s.sql(
        "CALL q245cat.system.stats(table => 'prod.orders_stats')").collect()).isFailure
      require(unanalyzed, "stats on a never-analyzed table must refuse")
      s.sql("CALL q245cat.system.analyze(table => 'prod.orders_stats')").collect()
      // five kinds pinned: integral, string, and TIMESTAMP (canonical epoch
      // micros — UTC sessions make the TZ and NTZ forms agree with DuckDB's
      // epoch_us over the same parquet)
      s.sql("CALL q245cat.system.stats(table => 'prod.orders_stats')")
        .filter($"column".isin("o_orderkey", "o_custkey", "o_orderdate",
          "o_orderstatus", "o_orderpriority"))
        .withColumn("refused_unanalyzed", lit(unanalyzed))
        .orderBy($"column")
    }),

    // DV-ROUTED SQL DELETE (q281; q275's deletion vectors reaching the
    // statement a SQL user actually types): a cow table created with
    // `dv_deletes 'true'` takes `DELETE FROM ... WHERE ...` as APPENDED
    // key-tombstone files — zero bucket rewrite on the hot path, folded by
    // the next rewrite/compact exactly like the API form. In-gate: every
    // pre-existing data file survives the DELETE by name, dv- files
    // appear, the flag counts them; a default table's identical DELETE
    // REWRITES its buckets (the old behavior pinned as the contrast);
    // compact folds and both tables converge to identical answers.
    // Oracle: the final state replay. A mor + dv_deletes CREATE refuses.
    "q281_dv_sql_delete" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      Seq("orders_dvd", "orders_dvd_plain").foreach(t =>
        s.sql(s"DROP TABLE IF EXISTS q245cat.prod.$t"))
      s.sql(s"""CREATE TABLE q245cat.prod.orders_dvd (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8', dv_deletes 'true')""")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_dvd_plain (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8')""")
      val morRefused = scala.util.Try(s.sql(
        s"""CREATE TABLE q245cat.prod.orders_dvd_mor (${o.schema.toDDL})
            OPTIONS (pk 'o_orderkey', storage 'mor', dv_deletes 'true')"""))
        .isFailure
      require(morRefused, "dv_deletes on a mor table must refuse at CREATE")
      val opts = CdcApplier.Options(Seq("o_orderkey"), numBuckets = 8)
      val dvDir = s"$whRoot/prod/orders_dvd"
      val plainDir = s"$whRoot/prod/orders_dvd_plain"
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), dvDir, opts)
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), plainDir, opts)
      val hconf = s.sparkContext.hadoopConfiguration
      def files(d: String): Map[Int, Set[String]] = {
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(hconf)
        CdcApplier.bucketIds(fs, p).map { b =>
          b -> fs.listStatus(new org.apache.hadoop.fs.Path(d, s"graft_bucket=$b"))
            .filter(FileStats.isDataFile).map(_.getPath.getName).toSet
        }.toMap
      }
      val dvBefore = files(dvDir)
      val plainBefore = files(plainDir)
      // BOTH SQL delete routes: a translatable BETWEEN takes the direct
      // SupportsDelete.deleteWhere path; the modulo predicate cannot
      // translate and takes Spark's row-level delta rewrite — on a
      // dv_deletes table both must land as appended vectors
      s.sql("DELETE FROM q245cat.prod.orders_dvd WHERE o_orderkey BETWEEN 200 AND 260")
      s.sql("DELETE FROM q245cat.prod.orders_dvd WHERE o_orderkey % 9 = 4")
      s.sql("DELETE FROM q245cat.prod.orders_dvd_plain WHERE o_orderkey BETWEEN 200 AND 260")
      s.sql("DELETE FROM q245cat.prod.orders_dvd_plain WHERE o_orderkey % 9 = 4")
      val dvAfter = files(dvDir)
      require(dvBefore.forall { case (b, fl) => fl.subsetOf(dvAfter(b)) },
        "a dv-routed DELETE must not rewrite any data file")
      require(dvAfter.exists { case (b, fl) =>
        (fl -- dvBefore.getOrElse(b, Set.empty)).exists(_.startsWith("dv-")) },
        "the DELETE must land as appended dv- files")
      require(CdcApplier.TargetMeta.read(hconf,
        new org.apache.hadoop.fs.Path(dvDir)).get.dv.exists(_ > 0),
        "the outstanding-vector flag must be set")
      val plainAfter = files(plainDir)
      require(plainAfter.exists { case (b, fl) =>
        plainBefore(b).exists(!fl.contains(_)) },
        "the default table's DELETE rewrites its touched buckets (contrast)")
      // both serve identical masked answers; compact folds the vectors
      val a = s.sql("SELECT o_orderkey FROM q245cat.prod.orders_dvd")
        .as[Long].collect().sorted.toSeq
      val b = s.sql("SELECT o_orderkey FROM q245cat.prod.orders_dvd_plain")
        .as[Long].collect().sorted.toSeq
      require(a == b, "dv-routed and rewrite-routed DELETEs must agree")
      s.sql("CALL q245cat.system.compact(table => 'prod.orders_dvd', " +
        "horizon_pos => 99999999)").collect()
      require(CdcApplier.TargetMeta.read(hconf,
        new org.apache.hadoop.fs.Path(dvDir)).get.dv.isEmpty,
        "compact must fold the vectors and clear the flag")
      s.sql("""SELECT o_orderkey, o_totalprice AS px
               FROM q245cat.prod.orders_dvd""")
        .withColumn("appended_not_rewritten", lit(true))
        .withColumn("plain_rewrote", lit(true))
        .withColumn("mor_refused", lit(morRefused))
        .orderBy($"o_orderkey")
    }),

    // COVERED-INDEX ROUTING (q282; Phoenix's covered query, composing q133's
    // covering index with q266's automatic routing): when every projected
    // column already lives on the index table, the rewrite serves the query
    // from ONE bucket-pruned index lookup — no second hop into the store at
    // all. The layout offset `_graft_pos` is never covered (the index's
    // positions are its own). The covered RANGE form additionally needs NO
    // key cap: nothing is fetched to the driver, the covering-bucket scan
    // is distributed end-to-end — pinned in-gate by routing a wide BETWEEN
    // under maxKeys=5 (the two-hop form declines exactly there, q274's
    // guard). In-gate: the covered point route fires with the STORE path
    // absent from the plan; a projection adding a non-covered column keeps
    // the two-hop route (store path present); answers identical with the
    // route unregistered. Oracle: the maintained-payload lifecycle replay —
    // a stale covered payload breaks the hash.
    "q282_covered_route" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val base = Files.createTempDirectory("graft_cdc").toString
      val store = base + "/orders_cov"
      val covIdx = base + "/orders_cov_idx"
      val sopts = CdcApplier.Options(Seq("o_orderkey"))
      // range-bucketed covering index on custkey: (value, pk, payload)
      val iopts = CdcApplier.Options(Seq("o_custkey", "o_orderkey"),
        bucketCols = Some(Seq("o_custkey")), rangeBounds = Some(Seq(25L, 50L, 100L)))
      def indexFeed(changes: DataFrame): DataFrame =
        changes.select(col("op"), col("next_position"),
          when(col("before").isNotNull, struct(
            col("before.o_custkey").as("o_custkey"),
            col("before.o_orderkey").as("o_orderkey"),
            col("before.o_totalprice").as("o_totalprice"))).as("before"),
          when(col("after").isNotNull, struct(
            col("after.o_custkey").as("o_custkey"),
            col("after.o_orderkey").as("o_orderkey"),
            col("after.o_totalprice").as("o_totalprice"))).as("after"))
      val b1 = ChangeFeed.inserts(o, $"o_orderkey" * 10)
      // payload-only update (a same-key index upsert), a custkey move (S10
      // fan-out retires the stale entry), and deletes
      val b2 = ChangeFeed.updates(o.filter($"o_orderkey" % 4 === 0),
          Map("o_totalprice" -> ($"o_totalprice" * 1.5)), $"o_orderkey" * 10 + 3)
        .union(ChangeFeed.updates(o.filter($"o_orderkey" % 6 === 2),
          Map("o_custkey" -> ($"o_custkey" + 1)), $"o_orderkey" * 10 + 5))
        .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 9 === 1),
          $"o_orderkey" * 10 + 7))
      Seq(b1, b2).foreach { b =>
        CdcApplier.applyBatch(s, b, store, sopts)
        CdcApplier.applyBatch(s, indexFeed(b), covIdx, iopts)
      }
      import graft.plans.GraftIndexRoute
      GraftIndexRoute.install(s)
      GraftIndexRoute.register(store, "o_custkey", covIdx)
      try {
        def covQ() = CdcApplier.snapshot(s, store)
          .filter($"o_custkey" >= 10L && $"o_custkey" <= 30L)
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        // exact scan-source audit (plan STRINGS truncate long file lists):
        // every graft scan's table dir, classified store vs index
        def scanRoots(df: DataFrame): Seq[String] =
          graft.sources.GraftBatchScan.readsOf(df.queryExecution.optimizedPlan).map(_._1)
        def under(p: String, dir: String) = p == dir || p.startsWith(dir + "/")
        // the wide covered RANGE routes even under a tiny key cap — the
        // one-hop form never fetches keys to the driver
        s.conf.set("spark.graft.indexroute.maxKeys", "5")
        val f0 = GraftIndexRoute.fired
        val covDf = covQ()
        val routed = covDf.collect()
        require(GraftIndexRoute.fired > f0,
          "the covered range must route even under maxKeys=5")
        val covRoots = scanRoots(covDf)
        require(covRoots.nonEmpty && !covRoots.exists(under(_, store)),
          s"a covered route must never touch the store: $covRoots")
        require(covRoots.forall(under(_, covIdx)),
          s"the covered route serves from the index alone: $covRoots")
        s.conf.unset("spark.graft.indexroute.maxKeys")
        // adding a non-covered column keeps the two-hop route
        val f1 = GraftIndexRoute.fired
        val twoHop = CdcApplier.snapshot(s, store)
          .filter($"o_custkey".isin(11L, 19L))
          .select($"o_orderkey", $"o_custkey", $"o_orderstatus")
        twoHop.collect()
        require(GraftIndexRoute.fired > f1,
          "the non-covered projection still routes (two hops)")
        require(scanRoots(twoHop).exists(under(_, store)),
          s"the two-hop route must fetch from the store: ${scanRoots(twoHop)}")
        GraftIndexRoute.unregister(store, "o_custkey")
        val plain = covQ().collect()
        require(routed.map(_.toString).sorted.toSeq ==
          plain.map(_.toString).sorted.toSeq,
          "covered and unrouted answers must be identical")
        GraftIndexRoute.register(store, "o_custkey", covIdx)
        covQ()
          .withColumn("covered_one_hop", lit(true))
          .withColumn("uncapped_range", lit(true))
          .orderBy($"o_orderkey")
      } finally {
        s.conf.unset("spark.graft.indexroute.maxKeys")
        GraftIndexRoute.unregister(store, "o_custkey")
      }
    }),

    // CREATE INDEX AS DDL (q283; Phoenix's CREATE INDEX ... ASYNC, the
    // lifecycle half of q273/q274/q282's routing): until now the index
    // table was hand-assembled from the envelope and the route
    // hand-registered — the one manual step left. CALL system.create_index
    // seeds the index from the CURRENT store state bucket-by-bucket (the
    // q171 resumable-slice discipline: max_buckets bounds one call, a
    // marker resumes the rest — a 100 TB seed cannot be one job), wires
    // automatic maintenance into every subsequent apply, and registers the
    // optimizer route ONLY when the seed completes (`building` indexes are
    // maintained, never routed). In-gate: the bounded first slice returns
    // `building` and a mid-build point query does NOT route; a mid-build
    // CDC batch lands through plain applyBatch (no hand-built index feed —
    // the maintenance proof); completion returns `live`; the routed
    // two-hop point query and the COVERED range (the index self-derived
    // its range bounds from exact quantiles) both fire with scan-root
    // audits; an in-memory deregistration heals itself on the next catalog
    // load (the meta entry is the durable truth); drop_index deregisters
    // for real — the same SQL then keeps its full scan and answers
    // identically. Oracle: the q282 lifecycle replay on the routed
    // IN-list. 100 TB: index DDL + bounded seed slices + automatic
    // maintenance — the full Phoenix story with zero hand-wiring.
    "q283_create_index_ddl" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_cidx")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_cidx (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '16')""")
      val store = s"$whRoot/prod/orders_cidx"
      val idx = store + ".idx-o_custkey"
      val sopts = CdcApplier.Options(Seq("o_orderkey"))
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), store, sopts)
      import graft.plans.GraftIndexRoute
      GraftIndexRoute.install(s)
      try {
        // bounded first slice over the already-populated table: `building`
        def create(maxB: String) = s.sql(
          s"""CALL q245cat.system.create_index(table => 'prod.orders_cidx',
              column => 'o_custkey', covering => 'o_totalprice',
              layout => 'range'$maxB)""").collect()(0)
        val r1 = create(", max_buckets => 5")
        require(r1.getAs[String]("state") == "building" &&
          r1.getAs[Int]("seeded_buckets") == 5,
          s"bounded first slice must seed 5 buckets and stay building, got $r1")
        val f0 = GraftIndexRoute.fired
        s.sql("""SELECT o_orderkey FROM q245cat.prod.orders_cidx
                 WHERE o_custkey = 7""").collect()
        require(GraftIndexRoute.fired == f0,
          "a half-seeded (building) index must never route")
        // mid-build CDC batch through PLAIN applyBatch — automatic
        // maintenance covers seeded and unseeded buckets alike (the later
        // seed re-inserts value-identical (key, pos) rows; LWW folds them)
        CdcApplier.applyBatch(s,
          ChangeFeed.updates(o.filter($"o_orderkey" % 4 === 0),
            Map("o_totalprice" -> ($"o_totalprice" * 1.5)), $"o_orderkey" * 10 + 3),
          store, sopts)
        val r2 = create("")
        require(r2.getAs[String]("state") == "live",
          s"the resumed seed must complete to live, got $r2")
        // post-live CDC batch, still plain applyBatch: custkey MOVES (the
        // index-PK fan-out) and deletes — the q282 lifecycle
        CdcApplier.applyBatch(s,
          ChangeFeed.updates(o.filter($"o_orderkey" % 6 === 2),
              Map("o_custkey" -> ($"o_custkey" + 1)), $"o_orderkey" * 10 + 5)
            .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 9 === 1),
              $"o_orderkey" * 10 + 7)),
          store, sopts)
        def pointQ() = s.sql(
          """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
             FROM q245cat.prod.orders_cidx
             WHERE o_custkey IN (3, 7, 11, 19, 42)""")
        def covQ() = s.sql(
          """SELECT o_orderkey, o_custkey, o_totalprice
             FROM q245cat.prod.orders_cidx
             WHERE o_custkey >= 10 AND o_custkey <= 30""")
        def scanRoots(df: DataFrame): Seq[String] =
          graft.sources.GraftBatchScan.readsOf(df.queryExecution.optimizedPlan).map(_._1)
        def under(p: String, d: String) = p == d || p.startsWith(d + "/")
        val f1 = GraftIndexRoute.fired
        val pDf = pointQ(); val routedP = pDf.collect()
        require(GraftIndexRoute.fired > f1,
          "the routed point query must fire after completion")
        require(routedAtRunTime(pDf, store, idx),
          "the routed plan reads the index and prunes its store scan at run time")
        require(scanRoots(pDf).exists(under(_, store)),
          "the non-covered projection is a two-hop route (store fetch)")
        // the covered RANGE routes uncapped (one hop, nothing driver-side)
        s.conf.set("spark.graft.indexroute.maxKeys", "5")
        val f2 = GraftIndexRoute.fired
        val cDf = covQ(); val routedC = cDf.collect()
        require(GraftIndexRoute.fired > f2,
          "the covered range must route even under maxKeys=5")
        val cRoots = scanRoots(cDf)
        require(cRoots.nonEmpty && !cRoots.exists(under(_, store)) &&
          cRoots.forall(under(_, idx)),
          s"the covered route serves from the self-built index alone: $cRoots")
        s.conf.unset("spark.graft.indexroute.maxKeys")
        // in-memory deregistration heals on the next catalog load — the
        // meta entry is the durable registration
        GraftIndexRoute.unregister(store, "o_custkey")
        val f3 = GraftIndexRoute.fired
        pointQ().collect()
        require(GraftIndexRoute.fired > f3,
          "the catalog load must re-register the live index's route")
        // DROP deregisters for real: the scan returns, answers identical
        s.sql("""CALL q245cat.system.drop_index(table => 'prod.orders_cidx',
                 column => 'o_custkey')""").collect()
        val f4 = GraftIndexRoute.fired
        val plainP = pointQ(); val plainRowsP = plainP.collect()
        val plainRowsC = covQ().collect()
        require(GraftIndexRoute.fired == f4,
          "after drop_index nothing may route")
        require(!readsDir(plainP.queryExecution.optimizedPlan, idx),
          "after drop_index no index scan remains")
        require(routedP.map(_.toString).sorted.toSeq ==
          plainRowsP.map(_.toString).sorted.toSeq,
          "routed and post-drop point answers must be identical")
        require(routedC.map(_.toString).sorted.toSeq ==
          plainRowsC.map(_.toString).sorted.toSeq,
          "covered and post-drop range answers must be identical")
        pointQ()
          .withColumn("ddl_building_not_routed", lit(true))
          .withColumn("auto_maintained", lit(true))
          .withColumn("covered_range_fired", lit(true))
          .withColumn("reload_reregisters", lit(true))
          .withColumn("drop_deregisters", lit(true))
          .orderBy($"o_orderkey")
      } finally {
        s.conf.unset("spark.graft.indexroute.maxKeys")
        GraftIndexRoute.unregister(store, "o_custkey")
      }
    }),

    // SECONDARY INDEXES AS A RELATION (q290; the observability half of
    // q283, the system.stats/system.files pattern): CALL system.indexes
    // serves each index's lifecycle facts — state, layout, covering
    // payload, live entry count (NULL while building: a partial count
    // would read as corruption), and seed progress in store buckets — so
    // an operator can SEE a 100 TB backfill's progress across bounded
    // create_index calls without touching the index table. In-gate: a
    // table with no indexes REFUSES; phase 1 lists a completed covering
    // index beside a mid-build bounded slice (3/8 buckets, entries NULL);
    // phase 2 (seed resumed) lists both live with exactly one entry per
    // live store row. Oracle: both phases replayed declaratively.
    "q290_index_relation" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_idxrel")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_idxrel (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8')""")
      val store = s"$whRoot/prod/orders_idxrel"
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), store,
        CdcApplier.Options(Seq("o_orderkey")))
      def indexes() =
        s.sql("CALL q245cat.system.indexes(table => 'prod.orders_idxrel')")
      val refused = scala.util.Try(indexes().collect()).isFailure
      require(refused, "a table with no indexes must refuse, not answer empty")
      s.sql("""CALL q245cat.system.create_index(table => 'prod.orders_idxrel',
               column => 'o_custkey', covering => 'o_totalprice')""").collect()
      s.sql("""CALL q245cat.system.create_index(table => 'prod.orders_idxrel',
               column => 'o_orderpriority', max_buckets => 3)""").collect()
      val ph1 = indexes()
      val schema1 = ph1.schema
      val rows1 = ph1.collect()
      val building = rows1.find(_.getString(0) == "o_orderpriority").get
      require(building.getString(1) == "building" && building.isNullAt(4) &&
        building.getInt(5) == 3,
        s"the bounded slice must list as building 3/8 with NULL entries: $building")
      s.sql("""CALL q245cat.system.create_index(table => 'prod.orders_idxrel',
               column => 'o_orderpriority')""").collect()
      val rows2 = indexes().collect()
      require(rows2.forall(_.getString(1) == "live"),
        s"the resumed seed must list both indexes live: ${rows2.mkString(";")}")
      import scala.collection.JavaConverters._
      val all = (rows1.map(r => Row.fromSeq(1 +: r.toSeq)) ++
        rows2.map(r => Row.fromSeq(2 +: r.toSeq))).toList
      s.createDataFrame(all.asJava, org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("phase",
          org.apache.spark.sql.types.IntegerType, nullable = false) +:
          schema1.fields))
        .orderBy($"phase", $"idx_column")
    }),

    // ANSI CREATE INDEX / DROP INDEX (q292; Spark's SupportsIndex DDL over
    // the q283 lifecycle — the literal SQL spelling, no CALL): a graft
    // index is identified by its column (meta registry, route table and
    // sibling dir all key on it), so the statement's index name must equal
    // the column — the refusal names the contract. In-gate: wrong-name
    // CREATE refuses; the covering CREATE seeds + auto-registers; a
    // duplicate CREATE refuses while IF NOT EXISTS is silent; a plain CDC
    // batch maintains the DDL-built index; the routed point query fires
    // with the V2 scan gone; CALL system.indexes lists the DDL-created
    // index; DROP INDEX restores the scan with identical answers and a
    // re-DROP refuses.
    "q292_create_index_sql" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_cidx2")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_cidx2 (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8')""")
      val store = s"$whRoot/prod/orders_cidx2"
      val index = IndexLifecycle.indexDir(store, "o_custkey")
      val sopts = CdcApplier.Options(Seq("o_orderkey"))
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), store, sopts)
      import graft.plans.GraftIndexRoute
      GraftIndexRoute.install(s)
      try {
        val tbl = "q245cat.prod.orders_cidx2"
        val wrongName = scala.util.Try(s.sql(
          s"CREATE INDEX custidx ON $tbl (o_custkey)"))
        require(wrongName.isFailure && wrongName.failed.get.getMessage
          .contains("name the index after it"),
          s"a mis-named index must refuse naming the contract: $wrongName")
        s.sql(s"""CREATE INDEX o_custkey ON $tbl (o_custkey)
                  OPTIONS (covering 'o_totalprice')""")
        require(scala.util.Try(s.sql(
          s"CREATE INDEX o_custkey ON $tbl (o_custkey)")).isFailure,
          "a duplicate CREATE INDEX must refuse")
        s.sql(s"CREATE INDEX IF NOT EXISTS o_custkey ON $tbl (o_custkey)")
        // plain CDC batch post-create: the DDL-built index maintains
        CdcApplier.applyBatch(s,
          ChangeFeed.updates(o.filter($"o_orderkey" % 4 === 0),
            Map("o_totalprice" -> ($"o_totalprice" * 1.25)),
            $"o_orderkey" * 10 + 3),
          store, sopts)
        def q() = s.sql(
          s"""SELECT o_orderkey, o_custkey, o_totalprice FROM $tbl
              WHERE o_custkey IN (3, 7, 11, 19, 42)""")
        val f1 = GraftIndexRoute.fired
        val routedDf = q(); val routed = routedDf.collect()
        require(GraftIndexRoute.fired > f1, "the DDL-built index must route")
        val routedPlan = routedDf.queryExecution.optimizedPlan
        require(readsDir(routedPlan, index) && !readsDir(routedPlan, store),
          "the covered route reads the index alone")
        val li = s.sql(
          "CALL q245cat.system.indexes(table => 'prod.orders_cidx2')").collect()
        require(li.length == 1 && li(0).getString(0) == "o_custkey" &&
          li(0).getString(1) == "live" && li(0).getString(3) == "o_totalprice",
          s"system.indexes must list the DDL-created index: ${li.mkString(";")}")
        s.sql(s"DROP INDEX o_custkey ON $tbl")
        val f2 = GraftIndexRoute.fired
        val plainDf = q(); val plain = plainDf.collect()
        require(GraftIndexRoute.fired == f2, "after DROP INDEX nothing routes")
        require(!readsDir(plainDf.queryExecution.optimizedPlan, index),
          "no index scan remains after the drop")
        require(routed.map(_.toString).sorted.toSeq ==
          plain.map(_.toString).sorted.toSeq,
          "routed and post-drop answers must be identical")
        require(scala.util.Try(s.sql(
          s"DROP INDEX o_custkey ON $tbl")).isFailure,
          "dropping a dropped index must refuse")
        q().withColumn("ddl_spelling", lit(true))
          .withColumn("routed", lit(true))
          .withColumn("listed", lit(true))
          .withColumn("dropped_scan_returns", lit(true))
          .orderBy($"o_orderkey")
      } finally GraftIndexRoute.unregister(store, "o_custkey")
    }),

    // DISTRIBUTED TABLE AUDIT (q291; Delta's invariant-check posture,
    // HBase hbck — the reference's operational ecosystem): a 100 TB store
    // cannot be downloaded to be checked, and a wrong bucket assignment or
    // a drifted secondary index is SILENT until a pruned read answers
    // wrong — CALL system.audit verifies the structural invariants in
    // place with distributed aggregates (bucket-vs-layout-fold per row,
    // one-version-per-key on resolve-free layouts, file columns within
    // the persisted schema, dv flag vs disk, live indexes set-equal to
    // the store, ANALYZE drift informational), read-only. In-gate: the
    // healthy lifecycle store (CDC churn + live covering index + ANALYZE)
    // audits clean — the oracle frame; a file smuggled into the WRONG
    // bucket directory flags bucket_assignment AND pk_uniqueness on a
    // scratch store; a stale entry injected directly into an index table
    // flags exactly that index with violations=1.
    "q291_table_audit" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_audit")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_audit (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8')""")
      val store = s"$whRoot/prod/orders_audit"
      val sopts = CdcApplier.Options(Seq("o_orderkey"))
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), store, sopts)
      CdcApplier.applyBatch(s,
        ChangeFeed.updates(o.filter($"o_orderkey" % 4 === 0),
          Map("o_totalprice" -> ($"o_totalprice" * 1.5)), $"o_orderkey" * 10 + 3)
          .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 9 === 1),
            $"o_orderkey" * 10 + 7)),
        store, sopts)
      s.sql("""CALL q245cat.system.create_index(table => 'prod.orders_audit',
               column => 'o_custkey', covering => 'o_totalprice')""").collect()
      s.sql("CALL q245cat.system.analyze(table => 'prod.orders_audit')").collect()
      val healthy = s.sql(
        "CALL q245cat.system.audit(table => 'prod.orders_audit')")
      val schemaH = org.apache.spark.sql.types.StructType(
        healthy.schema.fields.take(3))
      val hRows = healthy.collect()
      require(hRows.filter(!_.isNullAt(1)).forall(r =>
        r.getBoolean(1) && r.getLong(2) == 0L),
        s"the healthy lifecycle store must audit clean: ${hRows.mkString(";")}")
      require(hRows.exists(r => r.getString(0) == "stats_rows" &&
        r.getLong(2) == 0L),
        "ANALYZE ran after the churn, so the recorded rows must equal live")
      // negative leg 1: a file smuggled into the WRONG bucket directory
      val hconf = s.sparkContext.hadoopConfiguration
      val negRoot = Files.createTempDirectory("graft_audit").toString
      val neg = s"$negRoot/neg"
      val small = s.range(1, 41).select($"id".as("k"), ($"id" % 7).as("v"))
      CdcApplier.applyBatch(s, ChangeFeed.inserts(small, $"k" * 10), neg,
        CdcApplier.Options(Seq("k"), numBuckets = 4))
      val negPath = new org.apache.hadoop.fs.Path(neg)
      val fsys = negPath.getFileSystem(hconf)
      val srcFile = fsys.listStatus(
        new org.apache.hadoop.fs.Path(neg, s"${CdcApplier.BUCKET}=0"))
        .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
      org.apache.hadoop.fs.FileUtil.copy(fsys, srcFile, fsys,
        new org.apache.hadoop.fs.Path(neg,
          s"${CdcApplier.BUCKET}=1/smuggled-${srcFile.getName}"),
        false, hconf)
      val aud1 = TableAudit.audit(s, neg).map(r => r.check -> r).toMap
      require(aud1("bucket_assignment").ok.contains(false) &&
        aud1("bucket_assignment").violations > 0,
        s"the smuggled file must flag bucket_assignment: ${aud1.values}")
      require(aud1("pk_uniqueness").ok.contains(false),
        "the smuggled duplicate keys must flag pk_uniqueness")
      // negative leg 2: a stale entry injected directly into an index
      val neg2 = s"$negRoot/neg2"
      CdcApplier.applyBatch(s, ChangeFeed.inserts(small, $"k" * 10), neg2,
        CdcApplier.Options(Seq("k"), numBuckets = 4))
      IndexLifecycle.createIndex(s, neg2, "v")
      try {
        val idir = IndexLifecycle.indexDir(neg2, "v")
        val imeta = CdcApplier.TargetMeta.read(hconf,
          new org.apache.hadoop.fs.Path(idir)).get
        CdcApplier.applyBatch(s,
          ChangeFeed.inserts(
            s.range(1, 2).select(lit(999L).as("v"), lit(12345L).as("k")),
            lit(999999L)),
          idir, CdcApplier.Options(imeta.pkCols.get,
            numBuckets = imeta.numBuckets, bucketCols = imeta.bucketCols,
            rangeBounds = imeta.rangeBounds))
        val aud2 = TableAudit.audit(s, neg2).map(r => r.check -> r).toMap
        require(aud2("index_v").ok.contains(false) &&
          aud2("index_v").violations == 1L,
          s"the injected stale entry must flag index_v with violations=1: ${aud2.values}")
        require(aud2("bucket_assignment").ok.contains(true),
          "the store itself stays clean — only the index drifted")
      } finally graft.plans.GraftIndexRoute.unregister(neg2, "v")
      import scala.collection.JavaConverters._
      s.createDataFrame(
        hRows.map(r => Row(r.getString(0),
          if (r.isNullAt(1)) null else Boolean.box(r.getBoolean(1)),
          r.getLong(2))).toList.asJava, schemaH)
        .orderBy($"check")
    }),

    // ROUTING UNDER AND-CONJUNCTIONS (q289; Phoenix's index-plus-filter
    // plan): the rule declined whenever ANY conjunct beside the indexed
    // predicate wasn't lookup-enforced — correct but conservative: a
    // row-local residual (`o_orderstatus = 'F'` beside the routed
    // `o_custkey IN (...)`) can ride ABOVE the fetched frame, keeping the
    // read at ≤k index buckets + matched store buckets while the residual
    // preserves exact semantics. In-gate: the mixed predicate FIRES
    // (counter + the V2 scan gone from the plan) on a DDL-created index
    // (q283's lifecycle — the auto-maintained route is what serves);
    // residual-ONLY still declines (residuals never fabricate a route);
    // drop_index restores the scan and the answers are identical. Oracle:
    // the lifecycle replay under both predicates. 100 TB: the common
    // dashboard shape — point/IN on the indexed key plus a status/type
    // filter — now routes instead of scanning the fact table.
    "q289_residual_route" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_resid")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_resid (${o.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '16')""")
      val store = s"$whRoot/prod/orders_resid"
      val index = IndexLifecycle.indexDir(store, "o_custkey")
      val sopts = CdcApplier.Options(Seq("o_orderkey"))
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), store, sopts)
      s.sql("""CALL q245cat.system.create_index(table => 'prod.orders_resid',
               column => 'o_custkey')""").collect()
      // the q273 lifecycle through AUTO-maintenance: moves + deletes
      CdcApplier.applyBatch(s,
        ChangeFeed.updates(o.filter($"o_orderkey" % 6 === 2),
            Map("o_custkey" -> ($"o_custkey" + 1)), $"o_orderkey" * 10 + 3)
          .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 9 === 1),
            $"o_orderkey" * 10 + 5)),
        store, sopts)
      import graft.plans.GraftIndexRoute
      GraftIndexRoute.install(s)
      try {
        def q() = s.sql(
          """SELECT o_orderkey, o_custkey, o_orderstatus
             FROM q245cat.prod.orders_resid
             WHERE o_custkey IN (3, 7, 11, 19, 42) AND o_orderstatus = 'F'""")
        val f0 = GraftIndexRoute.fired
        val routedDf = q(); val routed = routedDf.collect()
        require(GraftIndexRoute.fired > f0,
          "the routed-with-residual predicate must fire")
        require(routedAtRunTime(routedDf, store, index),
          "the routed plan reads the index and prunes its store scan at run time")
        val d0 = GraftIndexRoute.declined
        s.sql("""SELECT o_orderkey FROM q245cat.prod.orders_resid
                 WHERE o_orderstatus = 'F'""").queryExecution.optimizedPlan
        require(GraftIndexRoute.declined > d0,
          "a residual-only predicate must still decline")
        s.sql("""CALL q245cat.system.drop_index(table => 'prod.orders_resid',
                 column => 'o_custkey')""").collect()
        val plainDf = q(); val plain = plainDf.collect()
        require(!readsDir(plainDf.queryExecution.optimizedPlan, index),
          "after drop_index no index scan remains")
        require(routed.map(_.toString).sorted.toSeq ==
          plain.map(_.toString).sorted.toSeq,
          "routed-with-residual and scan answers must be identical")
        q()
          .withColumn("residual_routed", lit(true))
          .withColumn("residual_only_declined", lit(true))
          .orderBy($"o_orderkey")
      } finally GraftIndexRoute.unregister(store, "o_custkey")
    }),

    "q216_sql_connector" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val base = Files.createTempDirectory("graft_cdc").toString
      val ocols = o.columns.map(col).toIndexedSeq

      // leg 1: q110's COW lifecycle, read through the connector
      val cow = base + "/orders_dsv2_cow"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      val b1 = ChangeFeed.inserts(o, $"o_orderkey" * 10)
      val b2 = ChangeFeed.updates(
          o.filter($"o_orderkey" % 7 === 0),
          Map("o_totalprice" -> $"o_totalprice" * 1.2),
          $"o_orderkey" * 10 + 3)
        .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 11 === 0), $"o_orderkey" * 10 + 5))
      CdcApplier.applyBatch(s, b1, cow, opts)
      CdcApplier.applyBatch(s, b2, cow, opts)
      // bounded literal key batch (pointLookup's contract), incl. a miss
      val ks = o.filter($"o_orderkey" % 2500 === 0)
        .select($"o_orderkey").as[Long].collect().toIndexedSeq.sorted :+ -1L
      val cowRead = s.read.format("graft").load(cow)
        .filter(col("o_orderkey").isin(ks: _*))
        .select(lit("cow_in").as("leg") +: ocols: _*)

      // leg 2: q134's range lifecycle, BETWEEN through the connector
      val rng = base + "/orders_dsv2_range"
      val maxKey = o.agg(max($"o_orderkey")).first.getLong(0)
      val bounds = (1 to 15).map(i => maxKey * i / 16)
      val ropts = CdcApplier.Options(Seq("o_orderkey"), rangeBounds = Some(bounds))
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), rng, ropts)
      CdcApplier.applyBatch(s,
        ChangeFeed.updates(o.filter($"o_orderkey" % 5 === 1),
          Map("o_totalprice" -> ($"o_totalprice" * 1.35)), $"o_orderkey" * 10 + 3)
          .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 12 === 7),
            $"o_orderkey" * 10 + 5)),
        rng, ropts)
      val rngRead = s.read.format("graft").load(rng)
        .filter($"o_orderkey".between(1000L, 3000L))
        .select(lit("range_between").as("leg") +: ocols: _*)

      // leg 3: the SAME cow feed applied merge-on-read, full read — the
      // superseded %7 originals and %11 tombstones are on disk as deltas
      // and must not leak
      val mor = base + "/orders_dsv2_mor"
      CdcApplier.applyBatchMor(s, b1, mor, opts)
      CdcApplier.applyBatchMor(s, b2, mor, opts)
      val morRead = s.read.format("graft").load(mor)
        .select(lit("mor_full").as("leg") +: ocols: _*)

      cowRead.unionByName(rngRead).unionByName(morRead)
        .orderBy($"leg", $"o_orderkey")
    }),

    // COVERING index — q123's space-for-hops trade: the index entry
    // carries the queried payload column, so the read is ONE bucket-pruned
    // prefix lookup with no second hop into the base store (HBase-world:
    // a covered query served entirely from the index table). Maintenance
    // is still just the envelope projected to (value, pk, payload): a
    // payload-only update is a same-key upsert, a custkey move is a
    // PK-moving update (S10 fan-out retires the stale entry), a delete
    // tombstones. The oracle replays the lifecycle; a stale payload or
    // un-retired entry breaks the hash.
    "q133_covering_index" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val index = Files.createTempDirectory("graft_cdc").toString + "/orders_cov_idx"
      val iopts = CdcApplier.Options(Seq("o_custkey", "o_orderkey"),
        bucketCols = Some(Seq("o_custkey")))
      def indexFeed(changes: DataFrame): DataFrame =
        changes.select(col("op"), col("next_position"),
          when(col("before").isNotNull, struct(
            col("before.o_custkey").as("o_custkey"),
            col("before.o_orderkey").as("o_orderkey"),
            col("before.o_totalprice").as("o_totalprice"))).as("before"),
          when(col("after").isNotNull, struct(
            col("after.o_custkey").as("o_custkey"),
            col("after.o_orderkey").as("o_orderkey"),
            col("after.o_totalprice").as("o_totalprice"))).as("after"))
      val b1 = ChangeFeed.inserts(o, $"o_orderkey" * 10)
      // reprices (%5), custkey moves (%6=2), deletes (%9=4) — all three
      // index-maintenance classes in one batch. Each sub-batch's row
      // images reflect the PRIOR sub-batches (binlog images are full
      // current rows, the same contract as q129's batch 3).
      val b2base = 10000000L
      val cur1 = o.withColumn("o_totalprice",
        when($"o_orderkey" % 5 === 0, $"o_totalprice" * 1.4).otherwise($"o_totalprice"))
      val cur2 = cur1.withColumn("o_custkey",
        when($"o_orderkey" % 6 === 2, $"o_custkey" + 1).otherwise($"o_custkey"))
      val b2 = ChangeFeed.updates(o.filter($"o_orderkey" % 5 === 0),
          Map("o_totalprice" -> ($"o_totalprice" * 1.4)),
          $"o_orderkey" * 10 + 1 + b2base)
        .union(ChangeFeed.updates(cur1.filter($"o_orderkey" % 6 === 2),
          Map("o_custkey" -> ($"o_custkey" + 1)), $"o_orderkey" * 10 + 3 + b2base))
        .union(ChangeFeed.deletes(cur2.filter($"o_orderkey" % 9 === 4),
          $"o_orderkey" * 10 + 5 + b2base))
      Seq(b1, b2).foreach(b => CdcApplier.applyBatch(s, indexFeed(b), index, iopts))
      val custkeys = Seq(3L, 7L, 11L, 19L, 42L).toDF("o_custkey")
      CdcApplier.pointLookup(s, index, custkeys)
        .select($"o_custkey", $"o_orderkey", $"o_totalprice")
        .orderBy($"o_orderkey")
    }),

    // Position time travel on the MOR store: after a second batch of
    // updates AND deletes has landed, snapshotAsOf at a position between
    // the batches must reconstruct the batch-1 state exactly — the
    // capability the reference's HBase target gets from cell timestamps,
    // recovered here from the un-compacted delta window. Any leak of
    // batch-2 images (a repriced row, a missing deleted row) breaks the
    // hash against the insert-only oracle.
    // ---- q181: VACUUM with a retention window (CdcApplier.vacuumMor) —
    //      the partial-history compaction between applyBatchMor's
    //      keep-everything and compactMor's collapse-everything: three
    //      MOR batches land (insert; %3 reprice + %7==2 delete; %13
    //      repriority + %11==5 delete), then vacuumMor(retain=batch 3)
    //      collapses batches 1-2 to one image per key while batch 3's
    //      deltas survive. The gate reads BOTH the retained as-of point
    //      (state after batch 2 — still answerable post-vacuum) and the
    //      current snapshot, tagged; the oracle replays both states
    //      declaratively, including the resurrection hazard (%13 updates
    //      rebuild after-images from the base table, so a %13 key
    //      deleted in batch 2 comes back with its BASE price — the q153
    //      upsert-semantics discipline) and the in-batch-3 order where
    //      the %11==5 delete outranks the %13 update. Scale: vacuum cost
    //      is one resolve of the sub-window versions + the bucket swap;
    //      the retained window's read cost is untouched.
    "q181_mor_vacuum" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val target = Files.createTempDirectory("graft_cdc").toString + "/orders_vac"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      val b2base = 10000000L
      val b3base = 20000000L
      CdcApplier.applyBatchMor(s,
        ChangeFeed.inserts(o, $"o_orderkey" * 10), target, opts)
      CdcApplier.applyBatchMor(s,
        ChangeFeed.updates(o.filter($"o_orderkey" % 3 === 0),
          Map("o_totalprice" -> ($"o_totalprice" * 1.15)),
          $"o_orderkey" * 10 + 1 + b2base)
          .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 7 === 2),
            $"o_orderkey" * 10 + 3 + b2base)),
        target, opts)
      CdcApplier.applyBatchMor(s,
        ChangeFeed.updates(o.filter($"o_orderkey" % 13 === 0),
          Map("o_orderpriority" -> lit("1-URGENT")),
          $"o_orderkey" * 10 + 5 + b3base)
          .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 11 === 5),
            $"o_orderkey" * 10 + 7 + b3base)),
        target, opts)
      CdcApplier.vacuumMor(s, target, b3base)
      val cols = o.columns.toSeq
      CdcApplier.snapshotAsOf(s, target, b3base - 1)
        .select(cols.map(col): _*).withColumn("state", lit("after_b2"))
        .unionByName(CdcApplier.snapshot(s, target)
          .select(cols.map(col): _*).withColumn("state", lit("current")))
        .select(("state" +: cols).map(col): _*)
        .orderBy($"state", $"o_orderkey")
    }),

    "q131_mor_time_travel" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val target = Files.createTempDirectory("graft_cdc").toString + "/orders_tt"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      val b2base = 10000000L
      CdcApplier.applyBatchMor(s,
        ChangeFeed.inserts(o, $"o_orderkey" * 10), target, opts)
      CdcApplier.applyBatchMor(s,
        ChangeFeed.updates(o.filter($"o_orderkey" % 3 === 0),
          Map("o_totalprice" -> ($"o_totalprice" * 1.15)),
          $"o_orderkey" * 10 + 1 + b2base)
          .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 7 === 2),
            $"o_orderkey" * 10 + 3 + b2base)),
        target, opts)
      CdcApplier.snapshotAsOf(s, target, b2base - 1)
        .select(o.columns.map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // q131's time travel through the V2 CONNECTOR — the SQL-surface form:
    // `.option("asOfPos", pos)` applies the as-of cut BEFORE latest-per-
    // key resolution with snapshotAsOf's exact guards (mor-only, floor
    // refusal), so a SQL session reads historical state without the Scala
    // API. Same lifecycle, one extra connector read at HEAD proving the
    // option's absence serves current state (the two reads differ exactly
    // by batch 2's effect). Shares q131's oracle for the as-of leg; the
    // head leg replays declaratively.
    "q224_sql_time_travel" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val target = Files.createTempDirectory("graft_cdc").toString + "/orders_tt2"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      val b2base = 10000000L
      CdcApplier.applyBatchMor(s,
        ChangeFeed.inserts(o, $"o_orderkey" * 10), target, opts)
      CdcApplier.applyBatchMor(s,
        ChangeFeed.updates(o.filter($"o_orderkey" % 3 === 0),
          Map("o_totalprice" -> ($"o_totalprice" * 1.15)),
          $"o_orderkey" * 10 + 1 + b2base)
          .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 7 === 2),
            $"o_orderkey" * 10 + 3 + b2base)),
        target, opts)
      val ocols = o.columns.map(col).toIndexedSeq
      val asOf = s.read.format("graft").option("asOfPos", b2base - 1).load(target)
        .select(lit("asof").as("leg") +: ocols: _*)
      val head = s.read.format("graft").load(target)
        .select(lit("head").as("leg") +: ocols: _*)
      asOf.unionByName(head).orderBy($"leg", $"o_orderkey")
    }),

    // SQL TIME TRAVEL BY NAME (q245): `VERSION AS OF <pos>` through the V2
    // catalog (GraftCatalog.loadTable(ident, version)) — the q224 as-of cut
    // reachable by a SQL user with no option syntax and no path. The q103
    // lifecycle lands in a mor CATALOG table, a vacuum collapses history
    // below pos 200 (creating a real retention floor), and the statement
    // reads the state AS OF position 300000 — mid-lifecycle, q104's exact
    // cut, sharing q104's interval oracle (valid_from = the winning
    // version's _graft_pos). The refusal leg: VERSION AS OF 50 sits below
    // the collapse watermark and must RAISE at analysis (never answer with
    // collapsed, wrong history); the outcome is reproduced as a literal
    // audit column the oracle pins to true. 100 TB: the cut is a pushed
    // `_graft_pos <= pos` filter ahead of the same per-bucket resolve every
    // mor read pays — time travel costs one predicate, not a rewind.
    "q245_sql_version_asof" -> ((s, dir) => {
      import s.implicits._
      val lc = lifecycle(s, dir)
      // repeat-run safety (bench medianOf3): the catalog plugin is CACHED
      // by name, so a rerun must REUSE the first run's root — this gate
      // also addresses the table by PATH (the applier writes), and a
      // fresh root would split the SQL table from the lifecycle data
      val whRoot = graftCatRoot(s)
      s.sql("DROP TABLE IF EXISTS q245cat.prod.orders_tt")
      s.sql(s"""CREATE TABLE q245cat.prod.orders_tt (${lc.orders.schema.toDDL})
                OPTIONS (pk 'o_orderkey', buckets '8', storage 'mor')""")
      val target = s"$whRoot/prod/orders_tt"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      lc.batches.foreach(b => CdcApplier.applyBatchMor(s, b, target, opts))
      CdcApplier.vacuumMor(s, target, 200L)
      val refused = scala.util.Try(
        s.sql("SELECT * FROM q245cat.prod.orders_tt VERSION AS OF 50")).isFailure
      require(refused,
        "a below-floor VERSION AS OF must raise, not answer with collapsed history")
      s.sql("""SELECT o_orderkey, _graft_pos AS valid_from, o_totalprice,
                      o_orderpriority
               FROM q245cat.prod.orders_tt VERSION AS OF 300000""")
        .withColumn("below_floor_refused", lit(refused))
        .orderBy($"o_orderkey")
    }),

    // The q33 streaming topology with the MERGE-ON-READ sink: same
    // from_json -> startPerTable pipeline, but every micro-batch lands as
    // appended delta files (applyBatchMor) and compactEvery=1 runs the
    // cadence compaction after each batch — exercising the mor-aware
    // compact path (version collapse BEFORE tombstone horizon) under the
    // real checkpointed streaming lifecycle. Final state must equal the
    // same declarative oracle shape as the cow run.
    "q130_stream_mor" -> ((s, dir) => graft.util.SmallBatches(s) {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val o = Tables.load(s, dir, "orders")
      def toEnvelope(changes: org.apache.spark.sql.DataFrame): Array[EnvelopeRow] =
        FeedMemo.toEnvelope(changes, "orders")
      // Positions are globally monotone ACROSS batches (the binlog
      // contract the horizon guard relies on): compactEvery=1 advances the
      // horizon to batch 1's high-watermark, so batch 2's positions must
      // all lie above it — unlike q33's interleaved per-key positions,
      // which are fine only because that query never compacts.
      // The feed is additionally sorted by POSITION WITHIN each logical
      // batch: the running query may pick up a PARTIAL feed as its own
      // micro-batch (default trigger races feed()), and compactEvery=1
      // then advances the horizon to that split's max position — with
      // unordered positions a later chunk's lower-position deletes would
      // be discarded as already-replayed. A real binlog delivers in
      // position order; the sort is that contract, not a workaround.
      val batch1 = FeedMemo.rows("orders_ins10", dir)(
        toEnvelope(ChangeFeed.inserts(o, $"o_orderkey" * 10)))
        .sortBy(_.next_position)
      val b2base = 10000000L
      val batch2 = toEnvelope(
        ChangeFeed.updates(o.filter($"o_orderkey" % 4 === 0),
          Map("o_totalprice" -> ($"o_totalprice" * 1.25)),
          $"o_orderkey" * 10 + 5 + b2base)
          .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 6 === 0),
            $"o_orderkey" * 10 + 7 + b2base)))
        .sortBy(_.next_position)
      val root = Files.createTempDirectory("graft_stream").toString
      val target = s"$root/orders_mor_state"
      val src = MemoryStream[EnvelopeRow]
      val queries = graft.streaming.StreamingPipeline.startPerTable(
        src.toDF(), Map("orders" -> (o.schema, target)), s"$root/ckpt",
        _ => graft.streaming.StreamingPipeline.PipelineOptions(
          CdcApplier.Options(Seq("o_orderkey")), morSink = true, compactEvery = 1))
      def feed(rows: Array[EnvelopeRow]): Unit =
        rows.grouped(1500).foreach(c => src.addData(c.toIndexedSeq))
      try {
        feed(batch1)
        queries.values.foreach(_.processAllAvailable())
        feed(batch2)
        queries.values.foreach(_.processAllAvailable())
      } finally queries.values.foreach(_.stop())
      CdcApplier.snapshot(s, target)
        .select(o.columns.map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // Per-key last-change dedup — the micro-batch ordering primitive that
    // replaces the reference's single-thread total order (SURVEY §2.3
    // invariant 1): latest event per user.
    "q31_latest_per_key" -> ((s, dir) => {
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      Tables.load(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"user_id", $"event_id", $"event_type", $"value")
        .orderBy($"user_id")
    }),

    // Incremental aggregate-view maintenance (IncrementalView): a
    // SUM/COUNT-per-priority view folded batch-by-batch from the change
    // feed — inserts of every row, then updates that BOTH reprice (%7,
    // x1.2) and MOVE rows between groups (%13 repriorities to 1-URGENT),
    // then deletes (%11) whose before-images carry the post-update state.
    // The oracle re-aggregates the equivalent final table from scratch, so
    // the gate fails if any contribution sign, group move, or decimal
    // cancellation is wrong.
    "q79_incremental_agg" -> ((s, dir) => {
      import s.implicits._
      IncrementalView.maintain(lifecycle(s, dir).batches,
          "o_orderpriority", "o_totalprice")
        .select($"o_orderpriority", $"cnt", $"sum".cast("double").as("total"))
        .orderBy($"o_orderpriority")
    }),

    // IVM COUNT(DISTINCT) (IncrementalView.maintainDistinct): the
    // duplicate-sensitive aggregate the q79 contribution fold cannot
    // express — maintained as Gupta-Mumick refcounts on (group, value)
    // pairs over the SAME lifecycle (the %13 group-moves exercise the
    // hazard: a custkey moving priority groups must only drop from the
    // old group's distinct set if that was its last order there). The
    // oracle re-derives COUNT(DISTINCT o_custkey) from the equivalent
    // final table.
    "q193_ivm_distinct" -> ((s, dir) => {
      import s.implicits._
      IncrementalView.maintainDistinct(lifecycle(s, dir).batches,
          "o_orderpriority", "o_custkey")
        .orderBy($"o_orderpriority")
    }),

    // The STREAMING form of q193 (COUNT(DISTINCT) refcount view via
    // startDistinctView): the q79 lifecycle as three micro-batches through
    // the checkpointed versioned-snapshot topology — the refcount fold is
    // NON-idempotent, so the batch-id pointer guard is load-bearing — then
    // the LAST micro-batch re-delivered under its applied id: the guard
    // must make it an exact no-op or the doubled refcounts break the
    // shared q193 oracle (q97/q94's one-decision-procedure discipline).
    "q219_stream_distinct_view" -> ((s, dir) => graft.util.SmallBatches(s) {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val lc = lifecycle(s, dir)
      val (o, batches) = (lc.orders, lc.batches)

      def toEnvelope(changes: org.apache.spark.sql.DataFrame): Array[EnvelopeRow] =
        FeedMemo.toEnvelope(changes, "orders")

      val root = Files.createTempDirectory("graft_vdist").toString
      val viewDir = s"$root/view"
      val src = MemoryStream[EnvelopeRow]
      def parse(df: DataFrame): DataFrame =
        df.select($"op", $"next_position",
          from_json($"before_json", o.schema).as("before"),
          from_json($"after_json", o.schema).as("after"))
      val q = IncrementalView.startDistinctView(parse(src.toDF()), viewDir,
        s"$root/ckpt", "o_orderpriority", "o_custkey")
      val envBatches = batches.zipWithIndex.map { case (b, i) =>
        FeedMemo.rows(s"lifecycle_b$i", dir)(toEnvelope(b)) }
      try envBatches.foreach { rows =>
        rows.grouped(1500).foreach(ch => src.addData(ch.toIndexedSeq))
        q.processAllAvailable() // one micro-batch per lifecycle batch
      } finally q.stop()

      val lastId = IncrementalView.lastApplied(s, viewDir)
        .getOrElse(sys.error("view never published"))
      IncrementalView.applyViewBatchDistinct(s,
        parse(s.createDataset(envBatches.last.toIndexedSeq).toDF()),
        lastId, viewDir, "o_orderpriority", "o_custkey")

      IncrementalView.snapshotViewDistinct(s, viewDir, "o_orderpriority")
        .getOrElse(sys.error("view absent after publish"))
        .orderBy($"o_orderpriority")
    }),

    // IVM beyond SUM/COUNT (IncrementalView.maintainMinMax): AVG derives
    // from the decimal-exact (sum, cnt); MIN/MAX maintain optimistically
    // from inserted extremes and RESCAN only affected keys under deletes.
    // The feed forces the rescan path hard: after q79's reprice/move/%11
    // lifecycle, a fourth batch deletes EVERY group's current minimum row
    // (argmin by (price, key)), so each group's stored minimum is
    // invalidated and must be recovered from the base — an interior-only
    // delete would sail through without touching the base. The oracle
    // re-aggregates the equivalent final table from scratch.
    "q89_incremental_minmax" -> ((s, dir) => {
      import s.implicits._
      val (lc, base) = minmaxLifecycle(s, dir)
      IncrementalView.maintainMinMax(lc.batches, base,
          "o_orderpriority", "o_totalprice")
        .select($"o_orderpriority", $"cnt", $"sum".cast("double").as("total"),
          $"avg", $"mn", $"mx")
        .orderBy($"o_orderpriority")
    }),

    // The STREAMING form of q79 (SUM/COUNT view via startAggView),
    // oracle-gated with the replay case: the q79 three-batch lifecycle
    // (inserts; %7 reprice + %13 group-move; %11 delete) as three
    // micro-batches through the checkpointed versioned-snapshot topology,
    // then the LAST micro-batch re-delivered under its applied id — the
    // batch-id replay guard must make it an exact no-op or the doubled
    // deltas fail the shared fresh-aggregation oracle.
    "q97_stream_agg_view" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val lc = lifecycle(s, dir)
      val (o, batches) = (lc.orders, lc.batches)

      // Driver-feed synthesis, as in q33: MemoryStream data must originate
      // on the driver; the pipeline itself never collects row data.
      def toEnvelope(changes: org.apache.spark.sql.DataFrame): Array[EnvelopeRow] =
        FeedMemo.toEnvelope(changes, "orders")

      val root = Files.createTempDirectory("graft_vagg").toString
      val viewDir = s"$root/view"
      val src = MemoryStream[EnvelopeRow]
      def parse(df: DataFrame): DataFrame =
        df.select($"op", $"next_position",
          from_json($"before_json", o.schema).as("before"),
          from_json($"after_json", o.schema).as("after"))
      val q = IncrementalView.startAggView(parse(src.toDF()), viewDir,
        s"$root/ckpt", "o_orderpriority", "o_totalprice")
      val envBatches = batches.zipWithIndex.map { case (b, i) =>
        FeedMemo.rows(s"lifecycle_b$i", dir)(toEnvelope(b)) }
      try envBatches.foreach { rows =>
        rows.grouped(1500).foreach(ch => src.addData(ch.toIndexedSeq))
        q.processAllAvailable() // one micro-batch per lifecycle batch
      } finally q.stop()

      val lastId = IncrementalView.lastApplied(s, viewDir)
        .getOrElse(sys.error("view never published"))
      IncrementalView.applyViewBatch(s,
        parse(s.createDataset(envBatches.last.toIndexedSeq).toDF()),
        lastId, viewDir, "o_orderpriority", "o_totalprice")

      IncrementalView.snapshotView(s, viewDir)
        .getOrElse(sys.error("view absent after publish"))
        .select($"o_orderpriority", $"cnt", $"sum".cast("double").as("total"))
        .orderBy($"o_orderpriority")
    }),

    // The STREAMING form of q89, oracle-gated end-to-end: the same
    // four-batch lifecycle (inserts; %7 reprice + %13 group-move; %11
    // delete; delete EVERY group's current minimum) driven through
    // IncrementalView.startTableAggViewMinMax — the one-foreachBatch CDC
    // composition where the row applier keeps the primary current and the
    // min/max view rescans affected keys against that post-batch primary —
    // then the LAST micro-batch is re-delivered (the at-least-once crash
    // replay) straight into applyViewBatchMinMax: a broken replay guard
    // would double the deltas and break the hash. The oracle re-aggregates
    // the equivalent final table from scratch (same SQL as q89).
    "q94_stream_minmax_view" -> ((s, dir) => graft.util.SmallBatches(s) {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val (lc, _) = minmaxLifecycle(s, dir)
      val (o, batches) = (lc.orders, lc.batches)

      // Driver-feed synthesis, as in q33: MemoryStream data must originate
      // on the driver; the pipeline itself never collects row data.
      def toEnvelope(changes: org.apache.spark.sql.DataFrame): Array[EnvelopeRow] =
        FeedMemo.toEnvelope(changes, "orders")

      val root = Files.createTempDirectory("graft_vmm").toString
      val (target, viewDir) = (s"$root/orders", s"$root/view")
      val src = MemoryStream[EnvelopeRow]
      def parse(df: DataFrame): DataFrame =
        df.select($"op", $"next_position",
          from_json($"before_json", o.schema).as("before"),
          from_json($"after_json", o.schema).as("after"))
      val q = IncrementalView.startTableAggViewMinMax(parse(src.toDF()),
        target, viewDir, s"$root/ckpt", CdcApplier.Options(Seq("o_orderkey")),
        "o_orderpriority", "o_totalprice")
      val envBatches = batches.zipWithIndex.map { case (b, i) =>
        FeedMemo.rows(if (i < 3) s"lifecycle_b$i" else s"minmax_b$i", dir)(
          toEnvelope(b)) }
      try envBatches.foreach { rows =>
        rows.grouped(1500).foreach(ch => src.addData(ch.toIndexedSeq))
        q.processAllAvailable() // one micro-batch per lifecycle batch
      } finally q.stop()

      // Re-deliver the LAST micro-batch under its applied id — the legal
      // at-least-once crash replay. Exactly-once means exact no-op; a
      // guard that re-applied would double the deltas and fail the oracle.
      val lastId = IncrementalView.lastApplied(s, viewDir)
        .getOrElse(sys.error("view never published"))
      IncrementalView.applyViewBatchMinMax(s,
        parse(s.createDataset(envBatches.last.toIndexedSeq).toDF()),
        lastId, viewDir, "o_orderpriority", "o_totalprice",
        CdcApplier.snapshot(s, target))

      IncrementalView.snapshotView(s, viewDir)
        .getOrElse(sys.error("view absent after publish"))
        .select($"o_orderpriority", $"cnt", $"sum".cast("double").as("total"),
          ($"sum".cast("double") / $"cnt".cast("double")).as("avg"),
          $"mn", $"mx")
        .orderBy($"o_orderpriority")
    }),

    // The consolidated topology's cross-table consistency contract, gated
    // end-to-end: TWO tables (orders + customer) through ONE streaming query
    // with the epoch marker on, each with its own CDC lifecycle (orders: %3
    // reprice x1.1, %5 delete; customer: %4 acctbal+100, %6 delete), read
    // back ONLY via Epoch.consistentSnapshot — the pinned all-or-none read —
    // then cross-table joined and aggregated. The oracle replays both
    // lifecycles declaratively and joins fresh tables, so the gate fails if
    // either table's state at the epoch is stale, torn, or misapplied.
    "q93_epoch_snapshot" -> ((s, dir) => graft.util.SmallBatches(s) {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")

      // Driver-feed synthesis, as in q33: MemoryStream data must originate
      // on the driver; the pipeline itself never collects row data.
      def toEnvelope(table: String, changes: DataFrame): Array[EnvelopeRow] =
        FeedMemo.toEnvelope(changes, table)

      val batch1 =
        toEnvelope("orders", ChangeFeed.inserts(o, $"o_orderkey" * 10)) ++
        toEnvelope("customer", ChangeFeed.inserts(c, $"c_custkey" * 10))
      val batch2 =
        toEnvelope("orders",
          ChangeFeed.updates(o.filter($"o_orderkey" % 3 === 0),
            Map("o_totalprice" -> $"o_totalprice" * 1.1), $"o_orderkey" * 10 + 5)
          .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 5 === 0),
            $"o_orderkey" * 10 + 7))) ++
        toEnvelope("customer",
          ChangeFeed.updates(c.filter($"c_custkey" % 4 === 0),
            Map("c_acctbal" -> ($"c_acctbal" + 100.0)), $"c_custkey" * 10 + 5)
          .union(ChangeFeed.deletes(c.filter($"c_custkey" % 6 === 0),
            $"c_custkey" * 10 + 7)))

      val root = Files.createTempDirectory("graft_epoch").toString
      val targets = Map("orders" -> s"$root/orders", "customer" -> s"$root/customer")
      val src = MemoryStream[EnvelopeRow]
      val q = graft.streaming.StreamingPipeline.startConsolidated(
        src.toDF(),
        Map("orders" -> (o.schema, targets("orders")),
          "customer" -> (c.schema, targets("customer"))),
        s"$root/ckpt",
        t => graft.streaming.StreamingPipeline.PipelineOptions(CdcApplier.Options(
          if (t == "orders") Seq("o_orderkey") else Seq("c_custkey"))),
        epochDir = Some(root))
      try {
        def feed(rows: Array[EnvelopeRow]): Unit =
          rows.grouped(1500).foreach(ch => src.addData(ch.toIndexedSeq))
        feed(batch1); q.processAllAvailable()
        feed(batch2); q.processAllAvailable()
      } finally q.stop()

      val (epochBatch, snaps) =
        graft.streaming.StreamingPipeline.Epoch.consistentSnapshot(s, root, targets)
      require(epochBatch >= 0 && snaps.keySet == Set("orders", "customer"),
        s"epoch read must pin both tables (batch=$epochBatch, tables=${snaps.keySet})")
      snaps("orders").join(snaps("customer"), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("cnt"),
          graft.util.Sumd.sumd($"o_totalprice").as("total"),
          graft.util.Sumd.sumd($"c_acctbal").as("bal"))
        .orderBy($"c_mktsegment")
    }),

    // SCD Type 2 history over the q79 lifecycle (inserts; %7 reprice +
    // %13 group-move; %11 delete of the post-update state): every
    // insert/update image becomes a version row with its
    // [valid_from, valid_to) interval in position time; a delete closes
    // the last interval without emitting a row. The oracle replays the
    // same event set with the same window — a version bridged across a
    // delete, a wrong interval edge, or a leaked delete row all break
    // the hash.
    "q103_scd2_history" -> ((s, dir) => {
      import s.implicits._
      val changes = lifecycle(s, dir).batches.reduce(_ unionByName _)
      Scd2.history(changes, "o_orderkey", Seq("o_totalprice", "o_orderpriority"))
        .select($"o_orderkey", $"valid_from", $"valid_to",
          $"o_totalprice", $"o_orderpriority", $"is_current")
        .repartition(1).sortWithinPartitions($"o_orderkey", $"valid_from")
    }),

    // Time-travel over the q103 history: the orders table AS OF position
    // 300000 — a cut that lands MID-lifecycle (keys < 30000 show their
    // updated state or are already deleted; key 30000 shows its original
    // version because its update at 300005 hasn't happened yet; larger
    // keys don't exist). A wrong interval edge (<= vs <) moves boundary
    // keys across regimes and breaks the hash.
    "q104_scd2_asof" -> ((s, dir) => {
      import s.implicits._
      val changes = lifecycle(s, dir).batches.reduce(_ unionByName _)
      val hist = Scd2.history(changes, "o_orderkey",
        Seq("o_totalprice", "o_orderpriority"))
      Scd2.asOf(hist, 300000L)
        .select($"o_orderkey", $"valid_from",
          $"o_totalprice", $"o_orderpriority")
        .repartition(1).sortWithinPartitions($"o_orderkey")
    }),

    // The STREAMING form of q103: the same lifecycle as three
    // micro-batches through Scd2.startHistoryBucketed — the 100 TB layout
    // (checkpointed foreachBatch, CdcApplier's per-bucket atomic swap,
    // per-bucket batch-id replay guard; only touched buckets rewritten,
    // asserted byte-identical for untouched ones by Scd2BucketedSpec) —
    // then the LAST micro-batch re-delivered under its applied id — a
    // broken guard would re-chain the open intervals against their own
    // versions and break the hash. Shares q103's fresh-derivation oracle:
    // the incremental fold must land on the identical final history.
    "q105_stream_scd2" -> ((s, dir) => graft.util.SmallBatches(s) {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val lc = lifecycle(s, dir)
      val (o, batches) = (lc.orders, lc.batches)

      // Driver-feed synthesis, as in q33/q97: MemoryStream data must
      // originate on the driver; the pipeline never collects row data.
      def toEnvelope(changes: org.apache.spark.sql.DataFrame): Array[EnvelopeRow] =
        FeedMemo.toEnvelope(changes, "orders")

      val root = Files.createTempDirectory("graft_scd2").toString
      val viewDir = s"$root/hist"
      val src = MemoryStream[EnvelopeRow]
      def parse(df: DataFrame): DataFrame =
        df.select($"op", $"next_position",
          from_json($"before_json", o.schema).as("before"),
          from_json($"after_json", o.schema).as("after"))
      val attrs = Seq("o_totalprice", "o_orderpriority")
      val q = Scd2.startHistoryBucketed(parse(src.toDF()), viewDir, s"$root/ckpt",
        "o_orderkey", attrs)
      val envBatches = batches.zipWithIndex.map { case (b, i) =>
        FeedMemo.rows(s"lifecycle_b$i", dir)(toEnvelope(b)) }
      try envBatches.foreach { rows =>
        rows.grouped(1500).foreach(ch => src.addData(ch.toIndexedSeq))
        q.processAllAvailable() // one micro-batch per lifecycle batch
      } finally q.stop()

      val lastId = Scd2.lastAppliedBucketed(s, viewDir)
        .getOrElse(sys.error("history never published"))
      // Re-delivery under the applied id must be an exact no-op: the
      // per-bucket markers all carry lastId, so nothing may rewrite.
      val rewritten = Scd2.applyHistoryBatchBucketed(s,
        parse(s.createDataset(envBatches.last.toIndexedSeq).toDF()),
        lastId, viewDir, "o_orderkey", attrs)
      require(rewritten.isEmpty,
        s"replayed batch $lastId rewrote buckets $rewritten")

      Scd2.snapshotBucketed(s, viewDir)
        .select($"o_orderkey", $"valid_from", $"valid_to",
          $"o_totalprice", $"o_orderpriority", $"is_current")
        .repartition(1).sortWithinPartitions($"o_orderkey", $"valid_from")
    }),

    // q93's torn-read claim under FIRE: the same consolidated two-table
    // topology driven through FOUR batches while a CONCURRENT reader
    // thread hammers Epoch.consistentSnapshot throughout. Every sample the
    // reader lands (snapshot aggregates whose epoch marker AND per-table
    // high-watermarks are unchanged after materialization — the documented
    // re-verify discipline) must equal the per-epoch oracle computed by
    // replaying the lifecycle up to that batch; a reader that ever saw
    // table A at batch k and table B at batch k-1 fails the in-query
    // require. The FINAL state is the DuckDB-gated output.
    "q115_epoch_concurrent" -> ((s, dir) => graft.util.SmallBatches(s) {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import graft.streaming.StreamingPipeline
      val o = Tables.load(s, dir, "orders")
      val c = Tables.load(s, dir, "customer")

      // Lifecycle state after batch k (0-based), shared by feed + oracle.
      def ordersState(k: Long): DataFrame = {
        var df = o
        if (k >= 1) df = df.withColumn("o_totalprice",
          when($"o_orderkey" % 3 === 0, $"o_totalprice" * 1.1).otherwise($"o_totalprice"))
        if (k >= 2) df = df.filter($"o_orderkey" % 5 =!= 0)
        if (k >= 3) df = df.withColumn("o_totalprice",
          when($"o_orderkey" % 7 === 0, $"o_totalprice" * 0.9).otherwise($"o_totalprice"))
        df
      }
      def customerState(k: Long): DataFrame = {
        var df = c
        if (k >= 1) df = df.withColumn("c_acctbal",
          when($"c_custkey" % 4 === 0, $"c_acctbal" + 100.0).otherwise($"c_acctbal"))
        if (k >= 2) df = df.filter($"c_custkey" % 6 =!= 0)
        if (k >= 3) df = df.withColumn("c_acctbal",
          when($"c_custkey" % 8 === 0, $"c_acctbal" - 50.0).otherwise($"c_acctbal"))
        df
      }

      def toEnvelope(table: String, changes: DataFrame): Array[EnvelopeRow] =
        FeedMemo.toEnvelope(changes, table)
      val batches: Seq[Array[EnvelopeRow]] = Seq(
        FeedMemo.rows("orders_ins10", dir)(
          toEnvelope("orders", ChangeFeed.inserts(o, $"o_orderkey" * 10))) ++
          FeedMemo.rows("customer_ins10", dir)(
            toEnvelope("customer", ChangeFeed.inserts(c, $"c_custkey" * 10))),
        FeedMemo.rows("q115_b2", dir)(
          toEnvelope("orders", ChangeFeed.updates(o.filter($"o_orderkey" % 3 === 0),
              Map("o_totalprice" -> $"o_totalprice" * 1.1), $"o_orderkey" * 10 + 3)) ++
            toEnvelope("customer", ChangeFeed.updates(c.filter($"c_custkey" % 4 === 0),
              Map("c_acctbal" -> ($"c_acctbal" + 100.0)), $"c_custkey" * 10 + 3))),
        FeedMemo.rows("q115_b3", dir)(
          toEnvelope("orders", ChangeFeed.deletes(
              ordersState(1).filter($"o_orderkey" % 5 === 0), $"o_orderkey" * 10 + 5)) ++
            toEnvelope("customer", ChangeFeed.deletes(
              customerState(1).filter($"c_custkey" % 6 === 0), $"c_custkey" * 10 + 5))),
        FeedMemo.rows("q115_b4", dir)(
          toEnvelope("orders", ChangeFeed.updates(
              ordersState(2).filter($"o_orderkey" % 7 === 0),
              Map("o_totalprice" -> $"o_totalprice" * 0.9), $"o_orderkey" * 10 + 7)) ++
            toEnvelope("customer", ChangeFeed.updates(
              customerState(2).filter($"c_custkey" % 8 === 0),
              Map("c_acctbal" -> ($"c_acctbal" - 50.0)), $"c_custkey" * 10 + 7))))

      val root = Files.createTempDirectory("graft_epochc").toString
      val targets = Map("orders" -> s"$root/orders", "customer" -> s"$root/customer")
      val hconf = s.sparkContext.hadoopConfiguration
      val src = MemoryStream[EnvelopeRow]
      val q = StreamingPipeline.startConsolidated(
        src.toDF(),
        Map("orders" -> (o.schema, targets("orders")),
          "customer" -> (c.schema, targets("customer"))),
        s"$root/ckpt",
        _ match {
          case "orders" => StreamingPipeline.PipelineOptions(CdcApplier.Options(Seq("o_orderkey")))
          case _ => StreamingPipeline.PipelineOptions(CdcApplier.Options(Seq("c_custkey")))
        },
        epochDir = Some(root))

      // (epoch, ordersCnt, ordersTotal, custCnt, custBal) samples the reader
      // landed with the epoch still pinned after materialization.
      val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double, Long, Double)]
      @volatile var readerStop = false
      @volatile var readerErr: Option[Throwable] = None
      def sampleOnce(): Unit = {
        val (k, snaps) = StreamingPipeline.Epoch.consistentSnapshot(s, root, targets)
        if (k >= 0 && snaps.keySet == targets.keySet) {
          val or = snaps("orders")
            .agg(count(lit(1)), graft.util.Sumd.sumd($"o_totalprice")).collect()(0)
          val cr = snaps("customer")
            .agg(count(lit(1)), graft.util.Sumd.sumd($"c_acctbal")).collect()(0)
          // re-verify (the lazy snapshots materialized ABOVE may have raced
          // the next publish): marker unchanged AND each snapshot's planned
          // file set still hashes to the marker's recorded signature — the
          // file pin is what a mid-collect swap (data moves before the
          // high-water advances) cannot slip through. Only then is the
          // sample a pinned read.
          val pinned = StreamingPipeline.Epoch.read(hconf, root).exists {
            case (k2, pos2) => k2 == k && targets.forall { case (t, _) =>
              pos2.get(t).map(_._2).contains(StreamingPipeline.Epoch.fileSig(
                snaps(t).inputFiles
                  .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet))
            }
          }
          if (pinned)
            samples.add((k, or.getLong(0), or.getDouble(1), cr.getLong(0), cr.getDouble(1)))
        }
      }
      val reader = new Thread(() =>
        try while (!readerStop) {
          // A sample attempt may die transiently mid-materialization (the
          // next publish swaps a bucket dir away under the lazy scan) or on
          // retry-budget exhaustion under continuous publishing — both are
          // "no sample this attempt", not failures: correctness rides ONLY
          // on samples that re-verified as pinned. The quiescent
          // sampleOnce() after the run propagates real errors.
          try sampleOnce()
          catch { case scala.util.control.NonFatal(_) => () }
          Thread.sleep(10)
        } catch { case e: Throwable => readerErr = Some(e) })
      reader.setDaemon(true)
      reader.start()
      // ONE addData per lifecycle batch: the per-epoch oracle below keys on
      // batchId == lifecycle index, and a chunked feed lets the running
      // trigger split one lifecycle batch across micro-batches (observed:
      // marker 1 = "rest of the inserts", which is lifecycle state 0).
      try batches.foreach { rows =>
        src.addData(rows.toIndexedSeq)
        q.processAllAvailable() // exactly one micro-batch per lifecycle batch
      } finally {
        readerStop = true
        reader.join(30000)
        q.stop()
      }
      readerErr.foreach(throw _)
      sampleOnce() // quiescent: guarantees at least the final epoch sampled
      require(!samples.isEmpty, "reader landed no pinned sample")

      // Per-epoch oracle: every pinned sample must equal the lifecycle
      // replayed to ITS batch — identical Sumd decimal path, so equality
      // is exact. A torn read (tables at different batches) cannot match.
      import scala.jdk.CollectionConverters._
      val observed = samples.asScala.toSeq
      observed.map(_._1).distinct.foreach { k =>
        val eo = ordersState(k)
          .agg(count(lit(1)), graft.util.Sumd.sumd($"o_totalprice")).collect()(0)
        val ec = customerState(k)
          .agg(count(lit(1)), graft.util.Sumd.sumd($"c_acctbal")).collect()(0)
        val expect = (k, eo.getLong(0), eo.getDouble(1), ec.getLong(0), ec.getDouble(1))
        observed.filter(_._1 == k).foreach(got =>
          require(got == expect, s"torn/stale epoch read: got $got expected $expect"))
      }

      val (ek, snaps) = StreamingPipeline.Epoch.consistentSnapshot(s, root, targets)
      require(ek == batches.size - 1 && snaps.keySet == targets.keySet,
        s"final epoch must pin both tables at batch ${batches.size - 1}, got $ek")
      snaps("orders").join(snaps("customer"), $"o_custkey" === $"c_custkey")
        .groupBy($"c_mktsegment")
        .agg(count(lit(1)).as("cnt"),
          graft.util.Sumd.sumd($"o_totalprice").as("total"),
          graft.util.Sumd.sumd($"c_acctbal").as("bal"))
        .orderBy($"c_mktsegment")
    }),

    // ---- q220: q115's torn-read hammer on the (primary, SECONDARY INDEX)
    //      pair — the race q170 left open: the index is applied in the
    //      same micro-batch as the primary but by a SEPARATE publish, so a
    //      two-hop reader (index prefix lookup -> primary fetch) could
    //      cross an epoch boundary between hops. The epoch marker now
    //      carries the index target under Epoch.indexName, so
    //      consistentSnapshot pins BOTH stores to one batch. A concurrent
    //      reader hammers the pinned two-hop read through a
    //      custkey-move-heavy lifecycle (moves change which orders a
    //      looked-up custkey owns — exactly what a torn pair gets wrong);
    //      every pinned sample must equal the lifecycle replayed to its
    //      epoch. The FINAL two-hop rows are the DuckDB-gated output.
    "q220_epoch_index" -> ((s, dir) => graft.util.SmallBatches(s) {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      import graft.streaming.StreamingPipeline
      val o = Tables.load(s, dir, "orders")
      val lookup = Seq(3L, 7L, 11L, 19L, 42L)

      // Lifecycle state after batch k (0-based), shared by feed + oracle:
      // custkey moves at batches 1 (%6=2: +1) and 2 (%12=5: +1, disjoint
      // keys), deletes at batch 1 (%9=1), reprice at batch 2 (%10=4).
      def state(k: Long): DataFrame = {
        var df = o
        if (k >= 1) df = df.withColumn("o_custkey",
            when($"o_orderkey" % 6 === 2, $"o_custkey" + 1).otherwise($"o_custkey"))
          .filter($"o_orderkey" % 9 =!= 1)
        if (k >= 2) df = df.withColumn("o_totalprice",
            when($"o_orderkey" % 10 === 4, $"o_totalprice" * 1.3).otherwise($"o_totalprice"))
          .withColumn("o_custkey",
            when($"o_orderkey" % 12 === 5, $"o_custkey" + 1).otherwise($"o_custkey"))
        df
      }

      def toEnvelope(changes: org.apache.spark.sql.DataFrame): Array[EnvelopeRow] =
        FeedMemo.toEnvelope(changes, "orders")
      val b1 = 10000000L; val b2 = 20000000L
      // batch-1 delete images reflect the move sub-batch before them; the
      // batch-2 move images reflect the reprice (q133's image discipline)
      val moved1 = o.withColumn("o_custkey",
        when($"o_orderkey" % 6 === 2, $"o_custkey" + 1).otherwise($"o_custkey"))
      val repriced2 = state(1).withColumn("o_totalprice",
        when($"o_orderkey" % 10 === 4, $"o_totalprice" * 1.3).otherwise($"o_totalprice"))
      val batches: Seq[Array[EnvelopeRow]] = Seq(
        FeedMemo.rows("orders_ins10", dir)(
          toEnvelope(ChangeFeed.inserts(o, $"o_orderkey" * 10))),
        FeedMemo.rows("q220_b2", dir)(
          toEnvelope(ChangeFeed.updates(o.filter($"o_orderkey" % 6 === 2),
              Map("o_custkey" -> ($"o_custkey" + 1)), $"o_orderkey" * 10 + 3 + b1)
            .union(ChangeFeed.deletes(moved1.filter($"o_orderkey" % 9 === 1),
              $"o_orderkey" * 10 + 5 + b1)))),
        FeedMemo.rows("q220_b3", dir)(
          toEnvelope(ChangeFeed.updates(state(1).filter($"o_orderkey" % 10 === 4),
              Map("o_totalprice" -> ($"o_totalprice" * 1.3)), $"o_orderkey" * 10 + 3 + b2)
            .union(ChangeFeed.updates(repriced2.filter($"o_orderkey" % 12 === 5),
              Map("o_custkey" -> ($"o_custkey" + 1)), $"o_orderkey" * 10 + 5 + b2)))))

      val root = Files.createTempDirectory("graft_epochix").toString
      val store = s"$root/orders"; val index = s"$root/orders_idx"
      val ixSpec = StreamingPipeline.IndexSpec(index, Seq("o_custkey", "o_orderkey"),
        CdcApplier.Options(Seq("o_custkey", "o_orderkey"),
          bucketCols = Some(Seq("o_custkey"))))
      val targets = Map("orders" -> store,
        StreamingPipeline.Epoch.indexName("orders", index) -> index)
      val hconf = s.sparkContext.hadoopConfiguration
      val src = MemoryStream[EnvelopeRow]
      val q = StreamingPipeline.startConsolidated(
        src.toDF(), Map("orders" -> (o.schema, store)), s"$root/ckpt",
        _ => StreamingPipeline.PipelineOptions(
          CdcApplier.Options(Seq("o_orderkey")), indexes = Seq(ixSpec)),
        epochDir = Some(root))

      // pinned two-hop samples: (epoch, matched count, sum of matched
      // orderkeys, Sumd of matched prices) — membership AND values both
      // change per epoch, so a torn (index, primary) pair cannot match
      def twoHop(idx: DataFrame, primary: DataFrame): DataFrame =
        primary.join(
          idx.filter($"o_custkey".isin(lookup: _*)).select($"o_orderkey"),
          Seq("o_orderkey"), "left_semi")
      val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long, Double)]
      @volatile var readerStop = false
      @volatile var readerErr: Option[Throwable] = None
      def sampleOnce(): Unit = {
        val (k, snaps) = StreamingPipeline.Epoch.consistentSnapshot(s, root, targets)
        if (k >= 0 && snaps.keySet == targets.keySet) {
          val r = twoHop(snaps(targets.keySet.filter(_ != "orders").head), snaps("orders"))
            .agg(count(lit(1)), sum($"o_orderkey"),
              graft.util.Sumd.sumd($"o_totalprice")).collect()(0)
          // re-verify the pin after materialization (q115's discipline)
          val pinned = StreamingPipeline.Epoch.read(hconf, root).exists {
            case (k2, pos2) => k2 == k && targets.forall { case (t, _) =>
              pos2.get(t).map(_._2).contains(StreamingPipeline.Epoch.fileSig(
                snaps(t).inputFiles
                  .map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet))
            }
          }
          if (pinned)
            samples.add((k, r.getLong(0),
              if (r.isNullAt(1)) 0L else r.getLong(1), r.getDouble(2)))
        }
      }
      val reader = new Thread(() =>
        try while (!readerStop) {
          try sampleOnce()
          catch { case scala.util.control.NonFatal(_) => () }
          Thread.sleep(10)
        } catch { case e: Throwable => readerErr = Some(e) })
      reader.setDaemon(true)
      reader.start()
      try batches.foreach { rows =>
        src.addData(rows.toIndexedSeq)
        q.processAllAvailable() // exactly one micro-batch per lifecycle batch
      } finally {
        readerStop = true
        reader.join(30000)
        q.stop()
      }
      readerErr.foreach(throw _)
      sampleOnce() // quiescent: guarantees at least the final epoch sampled
      require(!samples.isEmpty, "reader landed no pinned two-hop sample")

      // per-epoch oracle: the lifecycle replayed to the sample's batch
      import scala.jdk.CollectionConverters._
      val observed = samples.asScala.toSeq
      observed.map(_._1).distinct.foreach { k =>
        val e = state(k).filter($"o_custkey".isin(lookup: _*))
          .agg(count(lit(1)), sum($"o_orderkey"),
            graft.util.Sumd.sumd($"o_totalprice")).collect()(0)
        val expect = (k, e.getLong(0),
          if (e.isNullAt(1)) 0L else e.getLong(1), e.getDouble(2))
        observed.filter(_._1 == k).foreach(got =>
          require(got == expect, s"torn two-hop read: got $got expected $expect"))
      }

      val (ek, snaps) = StreamingPipeline.Epoch.consistentSnapshot(s, root, targets)
      require(ek == batches.size - 1 && snaps.keySet == targets.keySet,
        s"final epoch must pin primary+index at batch ${batches.size - 1}, got $ek")
      twoHop(snaps(targets.keySet.filter(_ != "orders").head), snaps("orders"))
        .select(o.columns.map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // TypeMapper's COMPAT mode (the reference's narrow lattice with the
    // StringType catch-all, HbaseTableInfo.scala:158-182) driven through
    // the full q32 merge lifecycle: the orders table arrives as a MySQL
    // schema whose decimal/datetime columns compat-map to STRINGS (MySQL
    // text conventions), the update batch reprices INSIDE the string
    // domain (decimal cast → *1.2 → rescale → back to text, mirrored
    // exactly by the oracle), and the final bucketed state must both
    // hash-match and retain the compat lattice end-to-end (in-query
    // schema requires). Closes the §1.2 gap between the spec-tested
    // mapping table and the oracle-gated pipeline.
    "q116_compat_merge" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.types.{LongType, StringType}
      val o = Tables.load(s, dir, "orders")
      // the MySQL DDL schema discovery would report for this table
      val mysqlTypes = Seq(
        "o_orderkey" -> "bigint(20)", "o_custkey" -> "bigint(20)",
        "o_orderstatus" -> "char(1)", "o_totalprice" -> "decimal(12,2)",
        "o_orderdate" -> "datetime", "o_orderpriority" -> "varchar(15)")
      val compat = mysqlTypes.map { case (n, t) => n -> TypeMapper.compat(t) }.toMap
      require(compat("o_totalprice") == StringType &&
        compat("o_orderdate") == StringType &&
        compat("o_orderkey") == LongType,
        s"compat lattice drifted: $compat")
      // the compat-typed source: MySQL text conventions for the
      // catch-all columns, then every column cast through the mapping
      val src = o
        .withColumn("o_totalprice",
          $"o_totalprice".cast("decimal(12,2)").cast("string"))
        .withColumn("o_orderdate",
          date_format($"o_orderdate", "yyyy-MM-dd HH:mm:ss"))
        .select(mysqlTypes.map { case (n, _) => col(n).cast(compat(n)).as(n) }: _*)
      val target = Files.createTempDirectory("graft_cdc").toString + "/orders_compat"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      CdcApplier.applyBatch(s, ChangeFeed.inserts(src, $"o_orderkey" * 10), target, opts)
      val second = ChangeFeed.updates(
          src.filter($"o_orderkey" % 7 === 0),
          // string-domain reprice; 1.2 is DECIMAL(2,1) in both engines and
          // the product stays at scale 3 — EXACT, so no rescale happens
          // (Spark rounds a decimal downscale HALF_UP, DuckDB truncates;
          // an explicit (12,2) rescale here diverged on 789/13636 rows)
          Map("o_totalprice" -> expr(
            "CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1.2 AS DECIMAL(15,3)) AS STRING)")),
          $"o_orderkey" * 10 + 3)
        .union(ChangeFeed.deletes(src.filter($"o_orderkey" % 11 === 0), $"o_orderkey" * 10 + 5))
      CdcApplier.applyBatch(s, second, target, opts)
      val snap = CdcApplier.snapshot(s, target)
      mysqlTypes.foreach { case (n, _) =>
        require(snap.schema(n).dataType == compat(n),
          s"compat type for $n drifted through the merge: ${snap.schema(n).dataType}") }
      snap.select(mysqlTypes.map(t => col(t._1)).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // ---- q153: re-bucketing migration MID-LIFECYCLE — the modulus-change
    //      operation a growing table eventually needs (a modulus sized at
    //      bootstrap makes oversized buckets at 100x the data, and the
    //      adopt-the-layout guard rightly refuses a reconfigured writer —
    //      rebucket is the sanctioned path). q32's two batches run on the
    //      16-bucket layout, the store re-hashes to 5 buckets via the
    //      whole-target crash-safe swap, and a THIRD batch (update %13,
    //      delete %17) applies AFTER the migration — proving the next
    //      applier adopts the new modulus from `.graft_meta` and merges
    //      against the re-hashed buckets (a modulus mismatch would
    //      silently duplicate keys and break the hash). Point lookups
    //      compose untouched: the final read goes through snapshot, and
    //      CdcApplierSpec drives pointLookup across the same migration.
    "q153_rebucket" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val target = Files.createTempDirectory("graft_cdc").toString + "/orders_rb"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), target, opts)
      val second = ChangeFeed.updates(
          o.filter($"o_orderkey" % 7 === 0),
          Map("o_totalprice" -> $"o_totalprice" * 1.2),
          $"o_orderkey" * 10 + 3)
        .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 11 === 0), $"o_orderkey" * 10 + 5))
      CdcApplier.applyBatch(s, second, target, opts)
      val got = CdcApplier.rebucket(s, target, 5)
      require(got == 5, s"rebucket must report the new modulus, got $got")
      val third = ChangeFeed.updates(
          o.filter($"o_orderkey" % 13 === 0),
          Map("o_totalprice" -> $"o_totalprice" * 0.5),
          $"o_orderkey" * 10 + 7)
        .union(ChangeFeed.deletes(o.filter($"o_orderkey" % 17 === 0), $"o_orderkey" * 10 + 9))
      CdcApplier.applyBatch(s, third, target, opts)
      CdcApplier.snapshot(s, target)
        .select(o.columns.map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // ---- q161: schema evolution arriving MID-STREAM — the production
    //      answer to a DDL on a replicated table is RESTART-ON-DDL (a
    //      running query's from_json schema is fixed at plan time; the
    //      reference likewise re-discovers schemas on table-map changes,
    //      S3/S4): phase 1 streams the original schema and stops; phase 2
    //      is a NEW query instance over the SAME target with the evolved
    //      envelope schema, feeding only the post-DDL positions (a fresh
    //      cursor past the high-watermark — exactly a binlog reconnect).
    //      The applier's additive-evolution path (q160's) upgrades the
    //      store under the restarted stream. One oracle gates the batch
    //      (q160) and streaming (q161) executions of the same DDL story.
    "q161_stream_schema_evolution" -> ((s, dir) => graft.util.SmallBatches(s) {
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
      val o = Tables.load(s, dir, "orders")
      def toEnvelope(changes: org.apache.spark.sql.DataFrame): Array[EnvelopeRow] =
        FeedMemo.toEnvelope(changes, "orders")
      val root = Files.createTempDirectory("graft_stream").toString
      val target = s"$root/orders_evo"
      def feed(src: MemoryStream[EnvelopeRow], rows: Array[EnvelopeRow]): Unit =
        rows.grouped(1500).foreach(c => src.addData(c.toIndexedSeq))
      // phase 1: original schema
      val batch1 = FeedMemo.rows("orders_ins10", dir)(
        toEnvelope(ChangeFeed.inserts(o, $"o_orderkey" * 10)))
      val src1 = MemoryStream[EnvelopeRow]
      val q1 = graft.streaming.StreamingPipeline.startPerTable(
        src1.toDF(), Map("orders" -> (o.schema, target)), s"$root/ckpt1",
        _ => graft.streaming.StreamingPipeline.PipelineOptions(
          CdcApplier.Options(Seq("o_orderkey"))))
      try {
        feed(src1, batch1); q1.values.foreach(_.processAllAvailable())
      } finally q1.values.foreach(_.stop())
      // the DDL: restart with the evolved schema, cursor past the watermark
      val evolved = o.filter($"o_orderkey" % 3 === 0)
        .withColumn("o_totalprice", $"o_totalprice" * 2.0)
        .withColumn("o_channel", concat(lit("ch-"), ($"o_orderkey" % 7).cast("string")))
      val batch2 = toEnvelope(ChangeFeed.inserts(evolved, $"o_orderkey" * 10 + 3))
      val evolvedSchema = org.apache.spark.sql.types.StructType(
        o.schema.fields :+ org.apache.spark.sql.types.StructField(
          "o_channel", org.apache.spark.sql.types.StringType))
      val src2 = MemoryStream[EnvelopeRow]
      val q2 = graft.streaming.StreamingPipeline.startPerTable(
        src2.toDF(), Map("orders" -> (evolvedSchema, target)), s"$root/ckpt2",
        _ => graft.streaming.StreamingPipeline.PipelineOptions(
          CdcApplier.Options(Seq("o_orderkey"))))
      try {
        feed(src2, batch2); q2.values.foreach(_.processAllAvailable())
      } finally q2.values.foreach(_.stop())
      CdcApplier.snapshot(s, target)
        .select((o.columns :+ "o_channel").map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    }),

    // ---- q160: ADDITIVE SCHEMA EVOLUTION through the merge — the S4
    //      path the guard allows (a column only in the incoming schema
    //      evolves the store; dropped/retyped fail fast). Batch 1 inserts
    //      the original schema; batch 2 re-inserts the %3 keys with a NEW
    //      o_channel column (and a reprice proving the upsert replaced
    //      the row, not merely patched it): after the merge every %3 row
    //      carries its channel, every other row carries NULL in the
    //      evolved column — the additive contract. The oracle replays the
    //      lifecycle declaratively; a dropped evolved column, a non-NULL
    //      backfill, or a lost reprice all break the hash. Spec-tested
    //      since round 2 (CdcApplierSpec S4) — this closes the last
    //      spec-vs-gate gap on the schema-change guard, like q116 did for
    //      compat typing.
    "q160_schema_evolution" -> ((s, dir) => {
      import s.implicits._
      val o = Tables.load(s, dir, "orders")
      val target = Files.createTempDirectory("graft_cdc").toString + "/orders_evo"
      val opts = CdcApplier.Options(Seq("o_orderkey"))
      CdcApplier.applyBatch(s, ChangeFeed.inserts(o, $"o_orderkey" * 10), target, opts)
      val evolved = o.filter($"o_orderkey" % 3 === 0)
        .withColumn("o_totalprice", $"o_totalprice" * 2.0)
        .withColumn("o_channel", concat(lit("ch-"), ($"o_orderkey" % 7).cast("string")))
      CdcApplier.applyBatch(s,
        ChangeFeed.inserts(evolved, $"o_orderkey" * 10 + 3), target, opts)
      CdcApplier.snapshot(s, target)
        .select((o.columns :+ "o_channel").map(col).toIndexedSeq: _*)
        .orderBy($"o_orderkey")
    })
  )

  /** The q103/q104/q105 oracles' shared CTE block: the lifecycle replayed
    * as an event set, chained into intervals — mirrors [[lifecycle]]. */
  private val scd2CtesSql: String = """
      WITH ev AS (
        SELECT o_orderkey, o_orderkey * 10 AS valid_from, 'v' AS kind,
          o_totalprice, o_orderpriority
        FROM orders
        UNION ALL
        SELECT o_orderkey, o_orderkey * 10 + 5, 'v',
          CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.2
               ELSE o_totalprice END,
          CASE WHEN o_orderkey % 13 = 0 THEN '1-URGENT'
               ELSE o_orderpriority END
        FROM orders WHERE o_orderkey % 7 = 0 OR o_orderkey % 13 = 0
        UNION ALL
        SELECT o_orderkey, o_orderkey * 10 + 7, 'd', NULL, NULL
        FROM orders WHERE o_orderkey % 11 = 0),
      w AS (
        SELECT o_orderkey, valid_from, kind, o_totalprice, o_orderpriority,
          lead(valid_from) OVER (PARTITION BY o_orderkey ORDER BY valid_from)
            AS valid_to
        FROM ev)"""

  /** q103's oracle, shared with q105: the streaming incremental fold must
    * land on the identical final history a fresh derivation produces. */
  private val scd2OracleSql: String = s"""$scd2CtesSql
      SELECT o_orderkey, valid_from, valid_to, o_totalprice, o_orderpriority,
        (valid_to IS NULL) AS is_current
      FROM w WHERE kind = 'v'
      ORDER BY o_orderkey, valid_from"""

  /** The q136/q137 decision procedure: interval membership re-derived from
    * the lifecycle arithmetic, independent of Scd2.history. */
  private val temporalJoinOracle: String = """
      WITH f AS (
        SELECT l_orderkey, l_linenumber,
          l_orderkey * 10 + l_linenumber + 1 AS fact_pos
        FROM lineitem),
      j AS (
        SELECT f.l_orderkey, f.l_linenumber, f.fact_pos,
          CASE WHEN (o.o_orderkey % 7 = 0 OR o.o_orderkey % 13 = 0)
                    AND f.fact_pos >= o.o_orderkey * 10 + 5
               THEN CASE WHEN o.o_orderkey % 7 = 0
                         THEN o.o_totalprice * 1.2 ELSE o.o_totalprice END
               ELSE o.o_totalprice END AS o_totalprice,
          CASE WHEN (o.o_orderkey % 7 = 0 OR o.o_orderkey % 13 = 0)
                    AND f.fact_pos >= o.o_orderkey * 10 + 5
               THEN CASE WHEN o.o_orderkey % 13 = 0
                         THEN '1-URGENT' ELSE o.o_orderpriority END
               ELSE o.o_orderpriority END AS o_orderpriority,
          (o.o_orderkey % 11 = 0 AND f.fact_pos >= o.o_orderkey * 10 + 7) AS deleted
        FROM f JOIN orders o ON f.l_orderkey = o.o_orderkey)
      SELECT l_orderkey, l_linenumber, fact_pos, o_totalprice, o_orderpriority
      FROM j WHERE NOT deleted
      ORDER BY l_orderkey, l_linenumber"""

  /** The q123/q170 shared oracle: the merged-store state restricted to
    * the custkeys the index lookup resolves (deleted %9 keys and
    * never-matching keys simply absent; %6 moves land under their NEW
    * custkey — a stale index row would surface them under the old one). */
  private val q123OracleSql: String = """
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 6 = 2 THEN o_custkey + 1 ELSE o_custkey END AS o_custkey,
        o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      FROM orders
      WHERE o_orderkey % 9 <> 1
        AND (CASE WHEN o_orderkey % 6 = 2 THEN o_custkey + 1 ELSE o_custkey END)
            IN (3, 7, 11, 19, 42)
      ORDER BY o_orderkey"""

  /** q174/q217 shared oracle: the declarative final-state join. */
  private val q174OracleSql: String = """
      WITH o2 AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 13 = 0 THEN o_custkey + 1 ELSE o_custkey END AS o_custkey,
          o_orderstatus,
          CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.2 ELSE o_totalprice END AS o_totalprice,
          o_orderdate, o_orderpriority
        FROM orders),
      c2 AS (
        SELECT c_custkey, c_name, c_nationkey,
          CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal,
          c_mktsegment
        FROM customer WHERE c_custkey % 17 <> 0)
      SELECT o2.o_orderkey, o2.o_custkey, o2.o_orderstatus, o2.o_totalprice,
        o2.o_orderdate, o2.o_orderpriority,
        c2.c_name, c2.c_nationkey, c2.c_acctbal, c2.c_mktsegment
      FROM o2 JOIN c2 ON o2.o_custkey = c2.c_custkey
      ORDER BY o_orderkey"""

  /** q176/q218 shared oracle: the final-state rank window. */
  private val q176OracleSql: String = """
      WITH o2 AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 13 = 0 THEN '5-LOW' ELSE o_orderpriority END
            AS o_orderpriority,
          CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.2 ELSE o_totalprice END
            AS o_totalprice
        FROM orders
        WHERE NOT (o_orderkey % 11 = 0 AND o_orderkey % 7 <> 0
          AND o_orderkey % 13 <> 0)),
      r AS (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_orderpriority
            ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM o2)
      SELECT o_orderpriority, rnk, o_orderkey, o_totalprice
      FROM r WHERE rnk <= 3
      ORDER BY o_orderpriority, rnk"""

  /** q193/q219 shared oracle: fresh COUNT(DISTINCT) over the equivalent
    * final table. */
  private val q193OracleSql: String = """
      WITH cur AS (
        SELECT
          CASE WHEN o_orderkey % 13 = 0 THEN '1-URGENT'
               ELSE o_orderpriority END AS o_orderpriority,
          o_custkey
        FROM orders WHERE o_orderkey % 11 <> 0)
      SELECT o_orderpriority, CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv,
        CAST(count(*) AS BIGINT) AS n_rows
      FROM cur GROUP BY o_orderpriority
      ORDER BY o_orderpriority"""

  /** q138/q225 shared oracle: the final replicated state. */
  private val q138OracleSql: String = """
      SELECT o_orderkey, o_custkey, o_orderstatus,
        CASE WHEN o_orderkey % 4 = 1 THEN o_totalprice * 1.3 ELSE o_totalprice END
          AS o_totalprice,
        o_orderdate,
        CASE WHEN o_orderkey % 10 = 6 THEN '3-LOW' ELSE o_orderpriority END
          AS o_orderpriority
      FROM orders
      WHERE o_orderkey % 9 <> 5
      ORDER BY o_orderkey"""

  val oracles: Map[String, String] = Map(
    // q241: q138's declarative replay + the one-key tail step.
    "q241_feed_pruning" -> """
      SELECT o_orderkey, o_custkey,
        CASE WHEN o_orderkey = (SELECT min(o_orderkey) FROM orders)
             THEN 'Z' ELSE o_orderstatus END AS o_orderstatus,
        CASE WHEN o_orderkey % 4 = 1 THEN o_totalprice * 1.3 ELSE o_totalprice END
          AS o_totalprice,
        o_orderdate,
        CASE WHEN o_orderkey % 10 = 6 THEN '3-LOW' ELSE o_orderpriority END
          AS o_orderpriority
      FROM orders
      WHERE o_orderkey % 9 <> 5
      ORDER BY o_orderkey""",

    "q30_cdc_merge" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus,
        CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice,
        o_orderdate, o_orderpriority
      FROM orders
      WHERE o_orderkey % 5 <> 0
      ORDER BY o_orderkey""",

    "q32_incremental_merge" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus,
        CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.2 ELSE o_totalprice END AS o_totalprice,
        o_orderdate, o_orderpriority
      FROM orders
      WHERE o_orderkey % 11 <> 0
      ORDER BY o_orderkey""",

    // q32's merged state restricted to the lookup keys: deleted (%11) and
    // never-inserted keys are simply absent.
    "q110_point_lookup" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus,
        CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.2 ELSE o_totalprice END AS o_totalprice,
        o_orderdate, o_orderpriority
      FROM orders
      WHERE o_orderkey % 11 <> 0 AND o_orderkey % 250 = 0
      ORDER BY o_orderkey""",

    "q123_secondary_index" -> q123OracleSql,
    // q220: final two-hop state after the move/delete/reprice lifecycle —
    // final custkey composes both disjoint move batches; rows whose FINAL
    // custkey lands in the lookup set.
    "q220_epoch_index" -> """
      SELECT o_orderkey, ck AS o_custkey, o_orderstatus, tp AS o_totalprice,
        o_orderdate, o_orderpriority
      FROM (
        SELECT o_orderkey, o_orderstatus, o_orderdate, o_orderpriority,
          (CASE WHEN o_orderkey % 6 = 2 THEN o_custkey + 1 ELSE o_custkey END)
            + (CASE WHEN o_orderkey % 12 = 5 THEN 1 ELSE 0 END) AS ck,
          CASE WHEN o_orderkey % 10 = 4 THEN o_totalprice * 1.3
               ELSE o_totalprice END AS tp
        FROM orders WHERE o_orderkey % 9 <> 1) x
      WHERE ck IN (3, 7, 11, 19, 42)
      ORDER BY o_orderkey""",
    // q174: declarative replay — mutated orders joined to surviving
    // mutated customers; a %13 move past the last custkey simply finds
    // no partner and the row is absent.
    "q174_ivm_join" -> q174OracleSql,
    // q217: the STREAMING join view must converge to the identical final
    // view — one shared oracle text (q97/q94's discipline).
    "q217_stream_join_view" -> q174OracleSql,

    // q176: final-state rank window — %11 keys delete only when not
    // also update-touched (one op per key per batch), %13 moves rank in
    // their NEW group, %7 reprices reorder in place.
    "q176_ivm_topk" -> q176OracleSql,
    // q218: the STREAMING top-k view shares the same final-state oracle.
    "q218_stream_topk_view" -> q176OracleSql,

    "q171_backfill" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        o_orderdate, o_orderpriority,
        o_totalprice * 0.05::DOUBLE AS o_fee
      FROM orders ORDER BY o_orderkey""",
    // q170 is q123's EXACT lifecycle executed through the streaming
    // pipeline's in-batch index maintenance — equal by construction
    // (same envelope, same projected index feed, same merges), so one
    // oracle gates both execution modes (q137/q149/q154's discipline).
    "q170_stream_index" -> q123OracleSql,

    // q32's replay extended by the post-migration third batch. The change
    // feed's after-images are built from the BASE table, so a %13 update
    // REPLACES the row (orig*0.5, no composition with the earlier %7
    // reprice) and — upsert semantics — RESURRECTS a %11-deleted key
    // (the %143 keys exercise exactly that through the migrated layout);
    // %17 keys are tombstoned last and stay gone.
    "q153_rebucket" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus,
        CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice * 0.5
             WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.2
             ELSE o_totalprice END AS o_totalprice,
        o_orderdate, o_orderpriority
      FROM orders
      WHERE o_orderkey % 17 <> 0
        AND (o_orderkey % 13 = 0 OR o_orderkey % 11 <> 0)
      ORDER BY o_orderkey""",

    // one DDL story, two execution modes (q136/q137's discipline)
    "q161_stream_schema_evolution" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus,
        CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2.0
             ELSE o_totalprice END AS o_totalprice,
        o_orderdate, o_orderpriority,
        CASE WHEN o_orderkey % 3 = 0
             THEN 'ch-' || CAST(o_orderkey % 7 AS VARCHAR) END AS o_channel
      FROM orders
      ORDER BY o_orderkey""",

    // the evolved column is NULL exactly where batch 2 never touched;
    // the %3 rows carry the doubled price and their channel
    "q160_schema_evolution" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus,
        CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2.0
             ELSE o_totalprice END AS o_totalprice,
        o_orderdate, o_orderpriority,
        CASE WHEN o_orderkey % 3 = 0
             THEN 'ch-' || CAST(o_orderkey % 7 AS VARCHAR) END AS o_channel
      FROM orders
      ORDER BY o_orderkey""",

    // shared by q136 (batch) and q137 (stream-static): ONE decision
    // procedure, two execution modes
    "q136_temporal_join" -> temporalJoinOracle,
    "q137_stream_enrich" -> temporalJoinOracle,

    "q138_mor_changefeed" -> q138OracleSql,
    // q225: the connector-served feed must land the replica on the same
    // final state — one shared oracle text.
    "q225_sql_changefeed" -> q138OracleSql,

    // q227: same replication chain as q225, driven by the streaming tail —
    // same declarative final state, same decision procedure.
    "q227_stream_changefeed" -> q138OracleSql,

    // q228: the chain again as ONE source->sink streaming query.
    "q228_stream_replica" -> q138OracleSql,

    // q284: the same backlog drained under maxPositionsPerTrigger with a
    // mid-drain restart — byte-identical final state, one shared oracle.
    "q284_stream_admission" -> q138OracleSql,

    "q135_forget" -> """
      SELECT event_id, ts, user_id, event_type, value, props
      FROM events
      WHERE user_id NOT IN (7, 13, 42)
      ORDER BY event_id""",

    "q134_range_scan" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus,
        CASE WHEN o_orderkey % 5 = 1 THEN o_totalprice * 1.35 ELSE o_totalprice END
          AS o_totalprice,
        o_orderdate, o_orderpriority
      FROM orders
      WHERE o_orderkey % 12 <> 7 AND o_orderkey BETWEEN 1000 AND 3000
      ORDER BY o_orderkey""",

    // q216: each leg replays its source gate's oracle body verbatim —
    // cow_in/mor_full are q110/q32's lifecycle (%7 reprice, %11 delete),
    // range_between is q134's — so the connector read cannot drift from
    // the Scala-API read of the same target.
    // q232: the rewritten aggregate must equal the base-computed truth.
    "q232_view_rewrite" -> """
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    // q231: replay the catalog-addressed lifecycle — reprice, range
    // delete, and the one evolved-schema row (old rows NULL flag).
    "q231_catalog_sql" -> """
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.2 ELSE o_totalprice END AS o_totalprice,
        o_orderstatus, CAST(NULL AS VARCHAR) AS flag
      FROM orders
      WHERE NOT (o_orderkey BETWEEN 1000 AND 3000)
      UNION ALL
      SELECT 9999999, 123.0, o_orderstatus, 'evolved' AS flag
      FROM orders WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)
      ORDER BY o_orderkey""",

    // q240: replay ONLY the DML — maintenance must be invisible to state.
    "q240_sql_maintenance" -> """
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.2
             ELSE o_totalprice END AS o_totalprice,
        (CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.2
              ELSE o_totalprice END) * 2 AS price2x
      FROM orders
      WHERE NOT (o_orderkey BETWEEN 1000 AND 3000)
      ORDER BY o_orderkey""",

    // q247: leg join = the served fact⋈dim aggregate; leg stats = the
    // coarser rollup of the finer view (SUMD-exact sums, one division).
    "q247_view_rewrite_join_subset" -> s"""
      SELECT 'join' AS leg, CAST(c_nationkey AS VARCHAR) AS grp,
        CAST(count(*) AS BIGINT) AS cnt,
        ${graft.util.Sumd.SUMD("o_totalprice")} AS total,
        CAST(NULL AS DOUBLE) AS mn, CAST(NULL AS DOUBLE) AS mx,
        CAST(NULL AS DOUBLE) AS avg_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey
      UNION ALL
      SELECT 'stats', o_orderpriority, CAST(count(*) AS BIGINT),
        ${graft.util.Sumd.SUMD("o_totalprice")},
        min(o_totalprice), max(o_totalprice),
        ${graft.util.Sumd.SUMD("o_totalprice")} / CAST(count(*) AS DOUBLE)
      FROM orders GROUP BY o_orderpriority
      ORDER BY leg, grp""",

    // q238: the five served aggregates, SUMD-exact where order-dependent.
    "q238_stats_view_rewrite" -> s"""
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
        ${graft.util.Sumd.SUMD("o_totalprice")} AS total,
        min(o_totalprice) AS mn, max(o_totalprice) AS mx,
        ${graft.util.Sumd.SUMD("o_totalprice")} / CAST(count(*) AS DOUBLE) AS avg_price
      FROM orders GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    // q234: replay the two UPDATEs — urgent reprice, then the PK move
    // (%1000 keys re-land at +10M; both updates compose on urgent movers).
    "q234_sql_update" -> """
      WITH s1 AS (
        SELECT o_orderkey,
          CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 1.1
               ELSE o_totalprice END AS o_totalprice,
          CASE WHEN o_orderpriority = '1-URGENT' THEN 'R'
               ELSE o_orderstatus END AS o_orderstatus
        FROM orders)
      SELECT CASE WHEN o_orderkey % 1000 = 0 THEN o_orderkey + 10000000
                  ELSE o_orderkey END AS o_orderkey,
             o_totalprice, o_orderstatus
      FROM s1 ORDER BY o_orderkey""",

    // q235: replay the merge — %6 keys deleted (every matched %3 key that
    // is also even), remaining %3 keys repriced from the source, and the
    // +20M inserts from the %5 branch.
    "q235_sql_merge" -> """
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2.0
             ELSE o_totalprice END AS o_totalprice,
        CASE WHEN o_orderkey % 3 = 0 THEN 'M' ELSE o_orderstatus END AS o_orderstatus
      FROM orders WHERE o_orderkey % 6 <> 0
      UNION ALL
      SELECT o_orderkey + 20000000 AS o_orderkey,
             o_totalprice * 3 AS o_totalprice, 'I' AS o_orderstatus
      FROM orders WHERE o_orderkey % 5 = 0
      ORDER BY o_orderkey""",

    // q236: the broadcast is a plan property; the values are a plain join.
    "q236_connector_stats" -> """
      SELECT n_name, CAST(count(*) AS BIGINT) AS cust_cnt,
             CAST(sum(c_custkey) AS BIGINT) AS key_sum
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""",

    // q244: hash leg = the 3 hot literal keys that exist in orders; range
    // leg = every key in the band; audit literals pinned true.
    "q244_runtime_bucket_pruning" -> """
      SELECT 'hash' AS leg, o_orderkey, o_totalprice,
        true AS runtime_pruned, true AS fullscan_reads_all
      FROM orders WHERE o_orderkey IN (1, 3, 7)
      UNION ALL
      SELECT 'range', o_orderkey, o_totalprice, true, true
      FROM orders WHERE o_orderkey BETWEEN 1200 AND 2800
      ORDER BY leg, o_orderkey""",

    // q246: the cow/limit legs aggregate the post-update table (the limit
    // is larger than the table, so its row equals the cow row); the mor
    // leg additionally drops the %5-deleted keys.
    "q246_connector_agg_pushdown" -> """
      WITH cowf AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 3 = 0 THEN CAST(NULL AS BIGINT)
               ELSE o_custkey END AS o_custkey,
          CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
               ELSE o_totalprice END AS o_totalprice
        FROM orders),
      morf AS (SELECT * FROM cowf WHERE o_orderkey % 5 <> 0),
      legs AS (
        SELECT 'cow' AS leg, count(*) AS n, count(o_custkey) AS n_ck,
          min(o_orderkey) AS min_ok, max(o_orderkey) AS max_ok,
          min(o_totalprice) AS min_px, max(o_totalprice) AS max_px
        FROM cowf
        UNION ALL
        SELECT 'limit', count(*), count(o_custkey),
          min(o_orderkey), max(o_orderkey),
          min(o_totalprice), max(o_totalprice)
        FROM cowf
        UNION ALL
        SELECT 'mor', count(*), count(o_custkey),
          min(o_orderkey), max(o_orderkey),
          min(o_totalprice), max(o_totalprice)
        FROM morf)
      SELECT * FROM legs ORDER BY leg""",

    // q250: the cow leg filters the post-update price; the mor leg's
    // recent-keys cut is the pure-integer form (no division, no double
    // literals) so both engines derive the identical threshold.
    "q250_file_skipping" -> """
      SELECT 'cow' AS leg, o_orderkey,
        CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
             ELSE o_totalprice END AS px,
        true AS file_skipped
      FROM orders
      WHERE CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
                 ELSE o_totalprice END > 400000.0
      UNION ALL
      SELECT 'mor', o_orderkey, o_totalprice, true
      FROM orders
      WHERE o_orderkey * 10 > (SELECT max(o_orderkey) * 9 FROM orders)
      ORDER BY leg, o_orderkey""",

    // q253: final state after the widen — original rows at the widened
    // type, %3 rows carrying the beyond-int values, the post-widen int
    // batch upcast in; refusal audits pinned true.
    "q253_type_widening" -> """
      WITH fin AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 3 = 0 THEN o_orderkey * 1000000
               ELSE CAST(o_orderkey % 100 AS BIGINT) END AS qty
        FROM orders
        UNION ALL
        SELECT o_orderkey + 5000000 AS o_orderkey,
          CAST(o_orderkey % 100 AS BIGINT) AS qty
        FROM orders)
      SELECT o_orderkey, qty, true AS widened, true AS narrow_refused,
        true AS mor_refused
      FROM fin ORDER BY o_orderkey""",

    // q254: per-position version-image counts after the partial vacuum —
    // pre-window stamps collapse per key (100 keeps non-%2 keys, 150
    // absorbs the %2 updates), in-window stamps survive verbatim; the
    // floor is the max collapsed stamp (150) and only positions at or
    // above it are answerable.
    "q254_sql_history" -> """
      WITH n AS (SELECT
          CAST(count(*) AS BIGINT) AS total,
          CAST(sum(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS even,
          CAST(sum(CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS q4,
          CAST(sum(CASE WHEN o_orderkey % 6 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS q6
        FROM orders)
      SELECT position, n_rows, answerable,
        CAST(150 AS BIGINT) AS floor, 'mor' AS storage, 8 AS buckets
      FROM (
        SELECT CAST(100 AS BIGINT) AS position, total - even AS n_rows,
          false AS answerable FROM n
        UNION ALL SELECT 150, even, true FROM n
        UNION ALL SELECT 200, q4, true FROM n
        UNION ALL SELECT 300, q6, true FROM n) x
      ORDER BY position""",

    // q256: the two tagged states replayed — 'mid'@150 (all keys, %2
    // updated) and 'release'@300 (%6 deleted, %4 then %2 precedence).
    "q256_named_tags" -> """
      SELECT 'mid' AS leg, o_orderkey,
        CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 1.1
             ELSE o_totalprice END AS px,
        true AS vacuum_refused
      FROM orders
      UNION ALL
      SELECT 'release', o_orderkey,
        CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice * 1.2
             WHEN o_orderkey % 2 = 0 THEN o_totalprice * 1.1
             ELSE o_totalprice END,
        true
      FROM orders WHERE o_orderkey % 6 <> 0
      ORDER BY leg, o_orderkey""",

    // q258: the renamed-column lifecycle under the NEW name — %3 keys 1.1x
    // (new-name batch), %5 keys 2.0x at a newer position (old-name replay
    // wins where both touch), filtered to the skip predicate.
    "q258_column_rename" -> """
      WITH fin AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2.0
               WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
               ELSE o_totalprice END AS price_usd
        FROM orders)
      SELECT o_orderkey, price_usd, true AS skipped, true AS pk_rename_refused
      FROM fin WHERE price_usd > 400000.0
      ORDER BY o_orderkey""",

    // q259: the post-drop lifecycle — %5 keys 2.0x (newer replay) beats the
    // %3 keys' 1.1x where both touch; `note` is gone from the view.
    "q259_drop_column" -> """
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2.0
             WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
             ELSE o_totalprice END AS px,
        o_orderstatus,
        true AS readd_refused, true AS pk_drop_refused
      FROM orders ORDER BY o_orderkey""",

    // q261: every detail field derived from the lifecycle — 7 fenced
    // publishes, floor on the vacuum point, live rows = the %6 survivors.
    "q261_sql_detail" -> """
      SELECT 'mor' AS storage, 8 AS buckets, 'o_orderkey' AS pk,
        CAST(150 AS BIGINT) AS floor, CAST(300 AS BIGINT) AS max_pos,
        CAST(7 AS BIGINT) AS commit_seq,
        (SELECT CAST(count(*) AS BIGINT) FROM orders
         WHERE o_orderkey % 6 <> 0) AS live_rows,
        1 AS n_tags, 1 AS n_renames, 0 AS n_drops""",

    // q257: the converged post-fence lifecycle — %5 keys carry the retried
    // (and replayed) 1.3x update.
    "q257_commit_fence" -> """
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 1.3
             ELSE o_totalprice END AS px,
        true AS fenced
      FROM orders ORDER BY o_orderkey""",

    // q262: the sorted co-bucketed join — fact with the %7 reprice and the
    // %13 deletes (compacted) applied, dim with the %10 deletes removed.
    "q262_sorted_spj" -> """
      SELECT o.o_orderkey, o.o_custkey, c.c_name,
        CASE WHEN o.o_orderkey % 7 = 0 THEN o.o_totalprice * 1.2
             ELSE o.o_totalprice END AS px,
        true AS sorted_zero_sort
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_custkey % 10 <> 0 AND o.o_orderkey % 13 <> 0
      ORDER BY o.o_orderkey""",

    // q263: restore-to-100 un-does the %3 reprice; the %4 batch then lands
    // on top of the restored state.
    "q263_rollback" -> """
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice * 1.2
             ELSE o_totalprice END AS px,
        CAST(201 AS BIGINT) AS restored_as, true AS floor_refused
      FROM orders ORDER BY o_orderkey""",

    // q264: the fast-forwarded lineage (%2 reprice, %9 trim) plus the
    // direct %5 reprice main applied afterwards; the abandoned 'late'
    // branch's priority change never lands.
    "q264_branch_wap" -> """
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 5 = 0 AND o_orderkey % 2 = 0
               THEN o_totalprice * 1.5 * 1.1
             WHEN o_orderkey % 5 = 0 THEN o_totalprice * 1.1
             WHEN o_orderkey % 2 = 0 THEN o_totalprice * 1.5
             ELSE o_totalprice END AS px,
        o_orderpriority, true AS ff_refused
      FROM orders WHERE o_orderkey % 9 <> 0
      ORDER BY o_orderkey""",

    // q265: the timestamp between commits 2 and 3 resolves to position 200
    // — inserts with the %2 reprice, deletes not yet applied.
    "q265_timestamp_travel" -> """
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 1.1
             ELSE o_totalprice END AS px,
        true AS pre_refused
      FROM orders ORDER BY o_orderkey""",

    // q266: q123's lifecycle replay (custkey moves, %9 deletes) filtered to
    // the routed IN-list, plus the rule-behavior flags.
    "q266_index_route" -> """
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 6 = 2 THEN o_custkey + 1 ELSE o_custkey END AS o_custkey,
        o_orderstatus, o_totalprice, o_orderdate, o_orderpriority,
        true AS fired, true AS range_declined, true AS same_without_rule
      FROM orders
      WHERE o_orderkey % 9 <> 1
        AND (CASE WHEN o_orderkey % 6 = 2 THEN o_custkey + 1 ELSE o_custkey END)
            IN (3, 7, 11, 19, 42)
      ORDER BY o_orderkey""",

    // q267: last-writer-wins over the interleaved lifecycle — the overlap
    // leg's publish (x1.6 at 600) landed even though the optimize racing
    // it refused.
    "q267_commit_rebase" -> """
      SELECT o_orderkey,
        CASE WHEN o_orderkey <= 50 THEN o_totalprice * 1.6
             WHEN o_orderkey <= 100 THEN o_totalprice * 1.5
             WHEN o_orderkey > 200 AND o_orderkey <= 300 THEN o_totalprice * 1.4
             ELSE o_totalprice END AS px,
        true AS rebase_landed, true AS overlap_refused
      FROM orders ORDER BY o_orderkey""",

    // q269: the per-file statistics relation replayed per range bucket —
    // one file per bucket, so file stats are bucket aggregates.
    "q269_file_stats_sql" -> """
      WITH b AS (
        SELECT CASE WHEN o_orderkey >= 301 THEN 3
                    WHEN o_orderkey >= 201 THEN 2
                    WHEN o_orderkey >= 101 THEN 1 ELSE 0 END AS bucket, *
        FROM orders)
      SELECT bucket, col AS "column", n_rows, nulls, min, max FROM (
        SELECT bucket, 'o_orderkey' AS col, count(*) AS n_rows,
          CAST(0 AS BIGINT) AS nulls,
          CAST(min(o_orderkey) AS VARCHAR) AS min,
          CAST(max(o_orderkey) AS VARCHAR) AS max
        FROM b GROUP BY bucket
        UNION ALL
        SELECT bucket, 'o_custkey', count(*), CAST(0 AS BIGINT),
          CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
        FROM b GROUP BY bucket
        UNION ALL
        SELECT bucket, 'o_orderstatus', count(*), CAST(0 AS BIGINT),
          min(o_orderstatus), max(o_orderstatus)
        FROM b GROUP BY bucket)
      ORDER BY bucket, col""",

    // q270: q123's lifecycle replay (the streamed index maintained the
    // same transitions), filtered to the routed IN-list.
    "q270_streamed_index_route" -> """
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 6 = 2 THEN o_custkey + 1 ELSE o_custkey END AS o_custkey,
        o_orderstatus, o_totalprice, o_orderdate, o_orderpriority,
        true AS streamed_route
      FROM orders
      WHERE o_orderkey % 9 <> 1
        AND (CASE WHEN o_orderkey % 6 = 2 THEN o_custkey + 1 ELSE o_custkey END)
            IN (3, 7, 11, 19, 42)
      ORDER BY o_orderkey""",

    // q271: restore-to-'good'@100 un-does both bad batches; the %3
    // priority batch then lands on the restored lineage.
    "q271_rollback_to_tag" -> """
      SELECT o_orderkey, o_totalprice AS px,
        CASE WHEN o_orderkey % 3 = 0 THEN '1-URGENT' ELSE o_orderpriority END
          AS o_orderpriority,
        CAST(301 AS BIGINT) AS restored_as
      FROM orders ORDER BY o_orderkey""",

    // q272: state identity through the Morton rewrite — the %7 reprice
    // applied, the %11 deletes gone; the layout change is invisible to
    // the data.
    "q272_zorder" -> """
      SELECT o_orderkey, o_custkey,
        CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.2
             ELSE o_totalprice END AS px,
        true AS both_dims_skip
      FROM orders WHERE o_orderkey % 11 <> 0
      ORDER BY o_orderkey""",

    // q273: q266's lifecycle replay (custkey moves, %9 deletes) filtered to
    // the routed IN-list — served through catalog SQL this time.
    "q273_index_route_sql" -> """
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 6 = 2 THEN o_custkey + 1 ELSE o_custkey END AS o_custkey,
        o_orderstatus, o_totalprice, o_orderdate, o_orderpriority,
        true AS sql_fired, true AS sql_range_declined,
        true AS sql_same_without_rule
      FROM orders
      WHERE o_orderkey % 9 <> 1
        AND (CASE WHEN o_orderkey % 6 = 2 THEN o_custkey + 1 ELSE o_custkey END)
            IN (3, 7, 11, 19, 42)
      ORDER BY o_orderkey""",

    // q275: the %10=3 keys dv-deleted, the %20=3 half resurrected at 2.0x
    // by a later upsert; the fold and the stale replay change nothing.
    "q275_deletion_vectors" -> """
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 20 = 3 THEN o_totalprice * 2.0
             ELSE o_totalprice END AS px,
        true AS appended_only, true AS folded, true AS stale_discarded
      FROM orders
      WHERE o_orderkey % 10 <> 3 OR o_orderkey % 20 = 3
      ORDER BY o_orderkey""",

    // q276: the compacted-then-delta'd mor lifecycle joined to the trimmed
    // dim — %13 deletes gone, %7 reprice, then the %5 reprice on top.
    "q276_sorted_mor_compact" -> """
      SELECT o.o_orderkey, o.o_custkey, c.c_name,
        CASE WHEN o.o_orderkey % 7 = 0 AND o.o_orderkey % 5 = 0
               THEN o.o_totalprice * 1.2 * 1.1
             WHEN o.o_orderkey % 7 = 0 THEN o.o_totalprice * 1.2
             WHEN o.o_orderkey % 5 = 0 THEN o.o_totalprice * 1.1
             ELSE o.o_totalprice END AS px,
        true AS compacted_zero_sort, true AS delta_resorts
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_orderkey % 13 <> 0 AND c.c_custkey % 10 <> 0
      ORDER BY o.o_orderkey""",

    // q277: the fast-forwarded release lineage — %3 repriced 1.25x, %11
    // trimmed — exactly what the SQL audit read approved.
    "q277_branch_sql_wap" -> """
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.25
             ELSE o_totalprice END AS px,
        true AS pinned_mid_stage, true AS branch_read_gone
      FROM orders WHERE o_orderkey % 11 <> 0
      ORDER BY o_orderkey""",

    // q287: the four SQL stage statements replayed declaratively — %3
    // repriced 1.25x, %11 trimmed, matched %5=2 keys composed 1.1x on the
    // repriced value, the MERGE-born +10M keys and INSERT-born +20M keys
    // at their source prices.
    "q287_branch_sql_writes" -> """
      SELECT o_orderkey, px,
        true AS stage_was_sql, true AS pinned_mid_stage,
        true AS ident_read_matches, true AS branch_gone
      FROM (
        SELECT o_orderkey,
          o_totalprice
            * (CASE WHEN o_orderkey % 3 = 0 THEN 1.25 ELSE 1.0 END)
            * (CASE WHEN o_orderkey % 5 = 2 THEN 1.1 ELSE 1.0 END) AS px
        FROM orders WHERE o_orderkey % 11 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000 AS o_orderkey, o_totalprice AS px
        FROM orders WHERE o_orderkey % 250 = 0
        UNION ALL
        SELECT o_orderkey + 20000000 AS o_orderkey, o_totalprice AS px
        FROM orders WHERE o_orderkey % 500 = 0
      )
      ORDER BY o_orderkey""",

    // q288: the five-leg evolution lifecycle replayed declaratively —
    // leg 1 doubles %3 prices and births o_channel, leg 2 scores %5==1
    // keys and inserts +10M keys, leg 4 (old-schema source) adds 1.0 to
    // %7 prices post-evolution, leg 5 inserts +20M keys by name with
    // o_tag and NULL-padded stored columns. A lost evolved value, a
    // non-NULL pad, or a replay that clobbered an evolved column all
    // break the hash.
    "q288_merge_schema_evolution" -> """
      SELECT o_orderkey, px, o_channel, o_score, o_tag FROM (
        SELECT o_orderkey,
          (CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 2.0
                ELSE o_totalprice END)
            + (CASE WHEN o_orderkey % 7 = 0 THEN 1.0 ELSE 0.0 END) AS px,
          CASE WHEN o_orderkey % 3 = 0
               THEN 'ch-' || CAST(o_orderkey % 7 AS VARCHAR) END AS o_channel,
          CASE WHEN o_orderkey % 5 = 1
               THEN (o_orderkey % 100) / 10.0 END AS o_score,
          CAST(NULL AS VARCHAR) AS o_tag
        FROM orders
        UNION ALL
        SELECT o_orderkey + 10000000, o_totalprice,
          CAST(NULL AS VARCHAR), (o_orderkey % 100) / 10.0,
          CAST(NULL AS VARCHAR)
        FROM orders WHERE o_orderkey % 200 = 0
        UNION ALL
        SELECT o_orderkey + 20000000, o_totalprice,
          CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE),
          'T-' || CAST(o_orderkey % 9 AS VARCHAR)
        FROM orders WHERE o_orderkey % 500 = 0
      ) ORDER BY o_orderkey""",

    // q278: the fact ⋈ surviving-dim join — the dim's %2 keys deleted; the
    // acctbal churn is invisible (not selected), the plans differ, the
    // answers must not.
    "q278_cbo_stats" -> """
      SELECT o.o_orderkey, c.c_name,
        true AS stats_broadcast, true AS stats_reorder, true AS same_answers
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_custkey % 2 <> 0
      ORDER BY o.o_orderkey, c.c_name""",

    // q279: state identity through two CALL rewrites + the API rewrite —
    // the %3 reprice applied, the %10=6 deletes gone.
    "q279_zorder_sql" -> """
      SELECT o_orderkey, o_custkey,
        CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.3
             ELSE o_totalprice END AS px,
        true AS bounds_reproducible, true AS both_dims_skip
      FROM orders WHERE o_orderkey % 10 <> 6
      ORDER BY o_orderkey""",

    // q280: every served statistic recomputed from the live lifecycle
    // state (the %6 keys deleted) — exact NDV, ranges (dates in epoch
    // days), string widths.
    "q280_stats_sql" -> """
      WITH live AS (SELECT * FROM orders WHERE o_orderkey % 6 <> 0)
      SELECT * FROM (
        SELECT 'o_orderkey' AS "column", 'i' AS kind,
          CAST(count(DISTINCT o_orderkey) AS BIGINT) AS ndv,
          CAST(0 AS BIGINT) AS nulls,
          CAST(min(o_orderkey) AS VARCHAR) AS min,
          CAST(max(o_orderkey) AS VARCHAR) AS max,
          CAST(8 AS BIGINT) AS avg_len, CAST(8 AS BIGINT) AS max_len,
          true AS refused_unanalyzed
        FROM live
        UNION ALL
        SELECT 'o_custkey', 'i', CAST(count(DISTINCT o_custkey) AS BIGINT),
          CAST(0 AS BIGINT), CAST(min(o_custkey) AS VARCHAR),
          CAST(max(o_custkey) AS VARCHAR), CAST(8 AS BIGINT),
          CAST(8 AS BIGINT), true
        FROM live
        UNION ALL
        SELECT 'o_orderdate', 't', CAST(count(DISTINCT o_orderdate) AS BIGINT),
          CAST(0 AS BIGINT),
          CAST(epoch_us(min(o_orderdate)) AS VARCHAR),
          CAST(epoch_us(max(o_orderdate)) AS VARCHAR),
          CAST(8 AS BIGINT), CAST(8 AS BIGINT), true
        FROM live
        UNION ALL
        SELECT 'o_orderstatus', 's',
          CAST(count(DISTINCT o_orderstatus) AS BIGINT), CAST(0 AS BIGINT),
          min(o_orderstatus), max(o_orderstatus),
          CAST(CEIL(AVG(LENGTH(o_orderstatus))) AS BIGINT),
          CAST(MAX(LENGTH(o_orderstatus)) AS BIGINT), true
        FROM live
        UNION ALL
        SELECT 'o_orderpriority', 's',
          CAST(count(DISTINCT o_orderpriority) AS BIGINT), CAST(0 AS BIGINT),
          min(o_orderpriority), max(o_orderpriority),
          CAST(CEIL(AVG(LENGTH(o_orderpriority))) AS BIGINT),
          CAST(MAX(LENGTH(o_orderpriority)) AS BIGINT), true
        FROM live)
      ORDER BY "column" """,

    // q281: both DELETE routes converge — the BETWEEN range and the %9=4
    // keys gone; the routing difference is a file-layout property the
    // in-gate requires pin.
    "q281_dv_sql_delete" -> """
      SELECT o_orderkey, o_totalprice AS px,
        true AS appended_not_rewritten, true AS plain_rewrote,
        true AS mor_refused
      FROM orders
      WHERE o_orderkey % 9 <> 4
        AND NOT (o_orderkey BETWEEN 200 AND 260)
      ORDER BY o_orderkey""",

    // q282: the maintained-payload lifecycle in the covered range — a key
    // hit by BOTH the price update (+3) and the custkey move (+5) resolves
    // to the move (last writer by position), whose image carries the
    // ORIGINAL price.
    "q282_covered_route" -> """
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 6 = 2 THEN o_custkey + 1 ELSE o_custkey END AS o_custkey,
        CASE WHEN o_orderkey % 6 = 2 THEN o_totalprice
             WHEN o_orderkey % 4 = 0 THEN o_totalprice * 1.5
             ELSE o_totalprice END AS o_totalprice,
        true AS covered_one_hop, true AS uncapped_range
      FROM orders
      WHERE o_orderkey % 9 <> 1
        AND (CASE WHEN o_orderkey % 6 = 2 THEN o_custkey + 1 ELSE o_custkey END)
            BETWEEN 10 AND 30
      ORDER BY o_orderkey""",

    // q283: the q282 lifecycle (price +3, custkey move +5 whose image
    // carries the ORIGINAL price, deletes +7) on the routed IN-list,
    // served end-to-end through the DDL-created index.
    "q283_create_index_ddl" -> """
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 6 = 2 THEN o_custkey + 1 ELSE o_custkey END AS o_custkey,
        o_orderstatus,
        CASE WHEN o_orderkey % 6 = 2 THEN o_totalprice
             WHEN o_orderkey % 4 = 0 THEN o_totalprice * 1.5
             ELSE o_totalprice END AS o_totalprice,
        true AS ddl_building_not_routed, true AS auto_maintained,
        true AS covered_range_fired, true AS reload_reregisters,
        true AS drop_deregisters
      FROM orders
      WHERE o_orderkey % 9 <> 1
        AND (CASE WHEN o_orderkey % 6 = 2 THEN o_custkey + 1 ELSE o_custkey END)
            IN (3, 7, 11, 19, 42)
      ORDER BY o_orderkey""",

    // q290: both observability phases replayed declaratively — the live
    // covering index carries one entry per live store row; the bounded
    // slice lists as building 3/8 with NULL entries until the resumed
    // seed completes.
    "q290_index_relation" -> """
      SELECT * FROM (
        SELECT 1 AS phase, 'o_custkey' AS idx_column, 'live' AS state,
          'hash' AS layout, 'o_totalprice' AS covering,
          (SELECT count(*) FROM orders) AS entries,
          8 AS seeded_buckets, 8 AS total_buckets
        UNION ALL
        SELECT 1, 'o_orderpriority', 'building', 'hash', '',
          CAST(NULL AS BIGINT), 3, 8
        UNION ALL
        SELECT 2, 'o_custkey', 'live', 'hash', 'o_totalprice',
          (SELECT count(*) FROM orders), 8, 8
        UNION ALL
        SELECT 2, 'o_orderpriority', 'live', 'hash', '',
          (SELECT count(*) FROM orders), 8, 8
      ) ORDER BY phase, idx_column""",

    // q292: the routed IN-list replayed over the lifecycle — the %4
    // reprice landed through the maintained index.
    "q292_create_index_sql" -> """
      SELECT o_orderkey, o_custkey,
        CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice * 1.25
             ELSE o_totalprice END AS o_totalprice,
        true AS ddl_spelling, true AS routed, true AS listed,
        true AS dropped_scan_returns
      FROM orders WHERE o_custkey IN (3, 7, 11, 19, 42)
      ORDER BY o_orderkey""",

    // q291: the healthy store's audit report — every enforced invariant
    // clean (ok true, zero violations), the version-bearing skips and the
    // informational stats row surfacing ok=NULL.
    "q291_table_audit" -> """
      SELECT * FROM (
        SELECT 'bucket_assignment' AS "check", true AS ok,
          CAST(0 AS BIGINT) AS violations
        UNION ALL SELECT 'dv_flag', true, 0
        UNION ALL SELECT 'file_schema', true, 0
        UNION ALL SELECT 'index_o_custkey', true, 0
        UNION ALL SELECT 'pk_uniqueness', true, 0
        UNION ALL SELECT 'stats_rows', CAST(NULL AS BOOLEAN), 0
      ) ORDER BY "check"""",

    // q286: the fact ⋈ dim join after the dim's pipeline lifecycle — the
    // %3 deletes gone; reprices don't surface (c_name only).
    "q286_auto_analyze" -> """
      SELECT o.o_orderkey, c.c_name,
        true AS auto_stats, true AS steers_broadcast,
        true AS approx_within_bound
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_custkey % 3 <> 0
      ORDER BY o.o_orderkey, c.c_name""",

    // q285: the skewed self-join — seg=0 is exactly the %10<9 rows, the
    // join partner is the row itself.
    "q285_cbo_histogram" -> """
      SELECT o_orderkey, o_totalprice,
        true AS hist_cardinality_flip, true AS hist_join_flip,
        true AS same_answers
      FROM orders
      WHERE o_orderkey % 10 < 9
      ORDER BY o_orderkey""",

    // q289: the q273 lifecycle under the routed IN-list AND the residual
    // status filter.
    "q289_residual_route" -> """
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 6 = 2 THEN o_custkey + 1 ELSE o_custkey END AS o_custkey,
        o_orderstatus,
        true AS residual_routed, true AS residual_only_declined
      FROM orders
      WHERE o_orderkey % 9 <> 1
        AND (CASE WHEN o_orderkey % 6 = 2 THEN o_custkey + 1 ELSE o_custkey END)
            IN (3, 7, 11, 19, 42)
        AND o_orderstatus = 'F'
      ORDER BY o_orderkey""",

    // q274: the same lifecycle filtered to the routed custkey RANGE.
    "q274_range_route" -> """
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 6 = 2 THEN o_custkey + 1 ELSE o_custkey END AS o_custkey,
        o_orderstatus, o_totalprice, o_orderdate, o_orderpriority,
        true AS range_fired, true AS hash_declined
      FROM orders
      WHERE o_orderkey % 9 <> 1
        AND (CASE WHEN o_orderkey % 6 = 2 THEN o_custkey + 1 ELSE o_custkey END)
            BETWEEN 10 AND 30
      ORDER BY o_orderkey""",

    // q255: the co-bucketed join after both lifecycles — fact prices with
    // the %7 update applied, dim with the %10 deletes removed.
    "q255_spj_join" -> """
      SELECT o.o_orderkey, o.o_custkey, c.c_name,
        CASE WHEN o.o_orderkey % 7 = 0 THEN o.o_totalprice * 1.2
             ELSE o.o_totalprice END AS px,
        true AS spj_zero_shuffle
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_custkey % 10 <> 0
      ORDER BY o.o_orderkey""",

    // q226: replay the three SQL-written lifecycles — upsert+range-delete,
    // replace-contents, and the mor target's change envelope.
    "q226_sql_write" -> """
      SELECT 'cow' AS leg, o_orderkey,
        CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.2 ELSE o_totalprice END AS o_totalprice,
        o_orderstatus AS tag
      FROM orders
      WHERE NOT (o_orderkey BETWEEN 1000 AND 3000)
      UNION ALL
      SELECT 'ow' AS leg, o_orderkey, o_totalprice * 2.0 AS o_totalprice,
        o_orderstatus AS tag
      FROM orders WHERE o_orderkey % 4 = 0
      UNION ALL
      SELECT 'feed' AS leg, o_orderkey, o_totalprice * 1.5 AS o_totalprice,
        'update' AS tag
      FROM orders WHERE o_orderkey % 5 = 0
      ORDER BY leg, o_orderkey""",

    "q216_sql_connector" -> """
      SELECT 'cow_in' AS leg, o_orderkey, o_custkey, o_orderstatus,
        CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.2 ELSE o_totalprice END AS o_totalprice,
        o_orderdate, o_orderpriority
      FROM orders
      WHERE o_orderkey % 11 <> 0 AND o_orderkey % 2500 = 0
      UNION ALL
      SELECT 'range_between' AS leg, o_orderkey, o_custkey, o_orderstatus,
        CASE WHEN o_orderkey % 5 = 1 THEN o_totalprice * 1.35 ELSE o_totalprice END AS o_totalprice,
        o_orderdate, o_orderpriority
      FROM orders
      WHERE o_orderkey % 12 <> 7 AND o_orderkey BETWEEN 1000 AND 3000
      UNION ALL
      SELECT 'mor_full' AS leg, o_orderkey, o_custkey, o_orderstatus,
        CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.2 ELSE o_totalprice END AS o_totalprice,
        o_orderdate, o_orderpriority
      FROM orders
      WHERE o_orderkey % 11 <> 0
      ORDER BY leg, o_orderkey""",

    "q133_covering_index" -> """
      SELECT ck AS o_custkey, o_orderkey, tp AS o_totalprice FROM (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 6 = 2 THEN o_custkey + 1 ELSE o_custkey END AS ck,
          CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 1.4 ELSE o_totalprice END AS tp
        FROM orders
        WHERE o_orderkey % 9 <> 4) x
      WHERE ck IN (3, 7, 11, 19, 42)
      ORDER BY o_orderkey""",

    "q131_mor_time_travel" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        o_orderdate, o_orderpriority
      FROM orders
      ORDER BY o_orderkey""",

    // q224: asof leg = q131's oracle body verbatim (pre-batch-2 state =
    // the raw table); head leg = batch 2's reprice + deletes applied.
    "q224_sql_time_travel" -> """
      SELECT 'asof' AS leg, o_orderkey, o_custkey, o_orderstatus,
        o_totalprice, o_orderdate, o_orderpriority
      FROM orders
      UNION ALL
      SELECT 'head' AS leg, o_orderkey, o_custkey, o_orderstatus,
        CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.15
             ELSE o_totalprice END AS o_totalprice,
        o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 7 <> 2
      ORDER BY leg, o_orderkey""",

    // Both tagged states replayed declaratively. current: the %13
    // after-images are rebuilt from the BASE table (upsert resurrection —
    // a %13 key deleted by batch 2 returns at its base price, and a %13
    // key that was %3-repriced loses the reprice), the batch-3 %11==5
    // delete outranks the %13 update by position, and non-%13 keys keep
    // batch 2's effects. after_b2: batches 1-2 only.
    "q181_mor_vacuum" -> """
      WITH b2 AS (
        SELECT 'after_b2' AS state, o_orderkey, o_custkey, o_orderstatus,
          CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.15
               ELSE o_totalprice END AS o_totalprice,
          o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 7 <> 2),
      cur AS (
        SELECT 'current' AS state, o_orderkey, o_custkey, o_orderstatus,
          CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice
               WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.15
               ELSE o_totalprice END AS o_totalprice,
          o_orderdate,
          CASE WHEN o_orderkey % 13 = 0 THEN '1-URGENT'
               ELSE o_orderpriority END AS o_orderpriority
        FROM orders
        WHERE o_orderkey % 11 <> 5
          AND (o_orderkey % 13 = 0 OR o_orderkey % 7 <> 2))
      SELECT * FROM b2 UNION ALL SELECT * FROM cur
      ORDER BY state, o_orderkey""",

    "q130_stream_mor" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus,
        CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice * 1.25 ELSE o_totalprice END
          AS o_totalprice,
        o_orderdate, o_orderpriority
      FROM orders
      WHERE o_orderkey % 6 <> 0
      ORDER BY o_orderkey""",

    "q129_mor_merge" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus,
        CASE WHEN o_orderkey % 4 = 1 THEN o_totalprice * 1.3 ELSE o_totalprice END
          AS o_totalprice,
        o_orderdate,
        CASE WHEN o_orderkey % 10 = 3 THEN '2-HIGH' ELSE o_orderpriority END
          AS o_orderpriority
      FROM orders
      WHERE o_orderkey % 8 <> 6
      ORDER BY o_orderkey""",

    "q33_streaming_merge" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus,
        CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice,
        o_orderdate, o_orderpriority
      FROM orders
      WHERE o_orderkey % 5 <> 0
      ORDER BY o_orderkey""",

    // Declarative replay of q163's full lifecycle: the purged span's
    // effects (%3 reprice, %5 delete) arrive via the bootstrap seed, the
    // tail applies %13 repriority and %17 delete, and the maliciously
    // replayed pre-purge %5 inserts are discarded by the seeded horizon —
    // so they simply never appear.
    "q163_bootstrap" -> """
      SELECT o_orderkey, o_custkey, o_orderstatus,
        CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1 ELSE o_totalprice END AS o_totalprice,
        o_orderdate,
        CASE WHEN o_orderkey % 13 = 0 THEN '1-URGENT' ELSE o_orderpriority END AS o_orderpriority
      FROM orders
      WHERE o_orderkey % 5 <> 0 AND o_orderkey % 17 <> 0
      ORDER BY o_orderkey""",

    "q31_latest_per_key" -> """
      SELECT user_id, event_id, event_type, value FROM (
        SELECT user_id, event_id, event_type, value,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) x
      WHERE rn = 1
      ORDER BY user_id""",

    "q79_incremental_agg" -> s"""
      WITH cur AS (
        SELECT
          CASE WHEN o_orderkey % 13 = 0 THEN '1-URGENT'
               ELSE o_orderpriority END AS o_orderpriority,
          CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.2
               ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 11 <> 0)
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
        ${graft.util.Sumd.SUMD("price")} AS total
      FROM cur GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    // Fresh COUNT(DISTINCT) over the same equivalent final table — what
    // the refcount fold must reproduce exactly.
    "q193_ivm_distinct" -> q193OracleSql,
    // q219: the STREAMING refcount view shares the same oracle.
    "q219_stream_distinct_view" -> q193OracleSql,

    // The streaming SUM/COUNT view must converge to q79's fresh
    // aggregation — one shared oracle text.
    "q97_stream_agg_view" -> s"""
      WITH cur AS (
        SELECT
          CASE WHEN o_orderkey % 13 = 0 THEN '1-URGENT'
               ELSE o_orderpriority END AS o_orderpriority,
          CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.2
               ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 11 <> 0)
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
        ${graft.util.Sumd.SUMD("price")} AS total
      FROM cur GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    "q89_incremental_minmax" -> s"""
      WITH cur AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 13 = 0 THEN '1-URGENT'
               ELSE o_orderpriority END AS o_orderpriority,
          CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.2
               ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 11 <> 0),
      ranked AS (
        SELECT o_orderpriority, price,
          ROW_NUMBER() OVER (PARTITION BY o_orderpriority
            ORDER BY price, o_orderkey) AS rn
        FROM cur),
      base AS (SELECT o_orderpriority, price FROM ranked WHERE rn > 1)
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
        ${graft.util.Sumd.SUMD("price")} AS total,
        ${graft.util.Sumd.SUMD("price")} / CAST(count(*) AS DOUBLE) AS avg,
        min(price) AS mn, max(price) AS mx
      FROM base GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    // The streaming view must converge to the same fresh aggregation the
    // batch algebra (q89) is gated against — one shared oracle text.
    "q94_stream_minmax_view" -> s"""
      WITH cur AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 13 = 0 THEN '1-URGENT'
               ELSE o_orderpriority END AS o_orderpriority,
          CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 1.2
               ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 11 <> 0),
      ranked AS (
        SELECT o_orderpriority, price,
          ROW_NUMBER() OVER (PARTITION BY o_orderpriority
            ORDER BY price, o_orderkey) AS rn
        FROM cur),
      base AS (SELECT o_orderpriority, price FROM ranked WHERE rn > 1)
      SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS cnt,
        ${graft.util.Sumd.SUMD("price")} AS total,
        ${graft.util.Sumd.SUMD("price")} / CAST(count(*) AS DOUBLE) AS avg,
        min(price) AS mn, max(price) AS mx
      FROM base GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    // Replays BOTH tables' lifecycles declaratively and joins fresh state:
    // any torn/stale/misapplied table at the epoch breaks the hash.
    "q93_epoch_snapshot" -> s"""
      WITH o2 AS (
        SELECT o_custkey,
          CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
               ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 5 <> 0),
      c2 AS (
        SELECT c_custkey, c_mktsegment,
          CASE WHEN c_custkey % 4 = 0 THEN c_acctbal + 100.0
               ELSE c_acctbal END AS acct
        FROM customer WHERE c_custkey % 6 <> 0)
      SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt,
        ${graft.util.Sumd.SUMD("price")} AS total,
        ${graft.util.Sumd.SUMD("acct")} AS bal
      FROM o2 JOIN c2 ON o_custkey = c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    // Replays the q79 lifecycle as an event set and derives the same
    // intervals: a version closes at the key's next event of ANY kind
    // (newer version or delete); only versions emit rows.
    "q103_scd2_history" -> scd2OracleSql,

    // The streaming fold must land on the IDENTICAL final history.
    "q105_stream_scd2" -> scd2OracleSql,

    // The q103 history filtered to the interval containing position
    // 300000 (valid_from <= pos < valid_to).
    "q104_scd2_asof" -> s"""$scd2CtesSql
      SELECT o_orderkey, valid_from, o_totalprice, o_orderpriority
      FROM w
      WHERE kind = 'v' AND valid_from <= 300000
        AND (valid_to IS NULL OR valid_to > 300000)
      ORDER BY o_orderkey""",

    // q104's cut read back through SQL `VERSION AS OF` (the winning
    // version's _graft_pos IS its valid_from); the refusal leg's outcome
    // is pinned as a literal.
    "q245_sql_version_asof" -> s"""$scd2CtesSql
      SELECT o_orderkey, valid_from, o_totalprice, o_orderpriority,
        true AS below_floor_refused
      FROM w
      WHERE kind = 'v' AND valid_from <= 300000
        AND (valid_to IS NULL OR valid_to > 300000)
      ORDER BY o_orderkey""",

    // q115's FINAL state (batch 3 of its 4-batch lifecycle), replayed
    // declaratively — the concurrent-reader per-epoch checks are in-query
    // requires; this hash gates the end state both tables converged to.
    "q115_epoch_concurrent" -> s"""
      WITH o1 AS (
        SELECT o_custkey, o_orderkey,
          CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 1.1
               ELSE o_totalprice END AS price
        FROM orders WHERE o_orderkey % 5 <> 0),
      o2 AS (
        SELECT o_custkey,
          CASE WHEN o_orderkey % 7 = 0 THEN price * 0.9 ELSE price END AS price
        FROM o1),
      c1 AS (
        SELECT c_custkey, c_mktsegment,
          CASE WHEN c_custkey % 4 = 0 THEN c_acctbal + 100.0
               ELSE c_acctbal END AS acct
        FROM customer WHERE c_custkey % 6 <> 0),
      c2 AS (
        SELECT c_custkey, c_mktsegment,
          CASE WHEN c_custkey % 8 = 0 THEN acct - 50.0 ELSE acct END AS acct
        FROM c1)
      SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS cnt,
        ${graft.util.Sumd.SUMD("price")} AS total,
        ${graft.util.Sumd.SUMD("acct")} AS bal
      FROM o2 JOIN c2 ON o_custkey = c_custkey
      GROUP BY c_mktsegment
      ORDER BY c_mktsegment""",

    // q116: the compat-projected table (decimal/datetime as MySQL text),
    // repriced inside the same decimal-text round-trip, %11 deleted.
    "q116_compat_merge" -> """
      WITH src AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
          CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR) AS o_totalprice,
          strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
          o_orderpriority
        FROM orders)
      SELECT o_orderkey, o_custkey, o_orderstatus,
        CASE WHEN o_orderkey % 7 = 0 THEN
          CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 1.2 AS DECIMAL(15,3)) AS VARCHAR)
        ELSE o_totalprice END AS o_totalprice,
        o_orderdate, o_orderpriority
      FROM src WHERE o_orderkey % 11 <> 0
      ORDER BY o_orderkey"""
  )
}
