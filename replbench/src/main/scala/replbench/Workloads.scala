package replbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.cdc.CdcApplier
import graft.plans.GraftIndexRoute
import graft.streaming.StreamingPipeline

/** What one workload run measured. Latencies are in ms from when each
  * operation was due; `layers` holds the traced run's per-layer values. */
final case class Result(
    setupS: Double, opMs: Double, samples: Seq[Double],
    attempted: Long, failed: Long, overCapacity: Boolean,
    checks: Seq[(String, String)], report: Seq[(String, Double)],
    layers: Seq[(String, Double, String)]) {
  def correct: Boolean = failed == 0 && checks.forall(_._2 == "ok")
}

/** One timed operation: due, start and end on the `System.nanoTime` clock. */
final case class Sample(dueNs: Long, startNs: Long, endNs: Long, traced: Boolean,
    kind: String = "", ok: Boolean = true) {
  def latencyMs: Double = (endNs - dueNs) / 1e6
  def serviceMs: Double = (endNs - startNs) / 1e6
}

object Workloads extends AdaptiveSparkPlanHelper {
  /** 37,500 orders and about 150k lineitem rows: TPC-H scale factor 0.025. */
  val Orders = 37500
  val Buckets = 16
  /** Set-up repetitions per run; setup_s reports their median. */
  val SetupReps = 2

  // cow_catchup: a closed-loop backlog of fixed-size batches (0.67% of rows).
  val CowBatch = 1000
  val CowWarmBatches = 3
  // mor_live: changes created at a fixed rate, lookups at a fixed rate.
  val MorChangesPerS = 500.0
  val MorLookupsPerS = 0.3
  val MorLookupKeys = 10
  val MorCompactEvery = 4
  val MorWarmChanges = 250
  /** Attempts per lookup. Reads are not isolated from a concurrent MOR
    * publish: a lookup overlapping one can find `.graft_meta` missing or a
    * listed file deleted. Like the engine's own `AtomicFile.read`, the
    * reader retries such a failure after a growing pause; every retry is
    * counted and its time is in the lookup's latency. */
  val MorLookupAttempts = 5
  val MorRetryPauseMs = 100L
  // sql_read: one client issuing the query mix at a fixed rate.
  val SqlQueriesPerS = 1.2
  /** The class sequence repeats this cycle, so a 10 s run (12 queries) holds
    * the mix exactly twice; the seed draws each query's parameters. A cheap
    * point query follows every costlier one, so a query that overruns its
    * slot delays little behind it. */
  val SqlPattern: IndexedSeq[String] = Vector("index", "point", "join", "point", "agg", "point")
  val SqlMix: Seq[(String, Int)] = Seq("point", "index", "agg", "join")
    .map(cl => cl -> SqlPattern.count(_ == cl))
  val Classes: Seq[String] = SqlMix.map(_._1)
  /** An open-loop run is over capacity when its queue grew by more than
    * this many seconds of arrivals between the first and last third. */
  val OverCapacityS = 5.0

  final case class Ctx(spark: SparkSession, tracer: Tracer, data: Data, src: Path,
      work: Path, seed: Long, seconds: Int) {
    def sourceLineitem: DataFrame = spark.read.parquet(src.resolve("lineitem").toString)
    def sourceOrders: DataFrame = spark.read.parquet(src.resolve("orders").toString)
    /** In a traced run every other operation is traced, so the untraced half
      * measures the tracing overhead in the same process. */
    def traced(i: Long): Boolean = tracer.enabled && i % 2 == 0
  }

  // ---------------------------------------------------------------- helpers

  private def ms(ns: Long): Double = ns / 1e6
  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** JVM uptime (ms) when the timed part of the workload ended. What the
    * harness's output checks allocate afterwards is not the engine's work,
    * so collections that start later are left out of `peak_mem_after_gc_mb`. */
  @volatile var measuredAtMs = Long.MaxValue
  def measured(): Unit = {
    measuredAtMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    phase("measured")
  }

  /** Logs a phase boundary to stderr with the seconds since JVM start. */
  def phase(name: String): Unit =
    System.err.println(f"[replbench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1fs $name")
  private def now(): Long = System.nanoTime()

  def time[T](f: => T): (T, Long) = { val t = now(); val r = f; (r, now() - t) }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  /** Parquet files per bucket directory of a table. */
  def bucketFiles(dir: Path): Map[String, Seq[Path]] =
    Files.list(dir).iterator().asScala.filter(_.getFileName.toString.startsWith("graft_bucket="))
      .map(b => b.getFileName.toString -> Files.list(b).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq).toMap

  def storedBytes(dir: Path): Long = bucketFiles(dir).values.flatten.map(Files.size).sum

  def filesPerBucket(dir: Path): Double = {
    val b = bucketFiles(dir); if (b.isEmpty) 0.0 else b.values.map(_.size).sum.toDouble / b.size
  }

  /** Latency summary: (p50, tail), the tail at the highest percentile that
    * leaves ten samples beyond it (NaN when the sample is too small). */
  private def lat(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (Double.NaN, Double.NaN)
    else (Stats.median(xs), Stats.tailPercentile(xs.size).map(Stats.percentile(xs, _))
      .getOrElse(Double.NaN))

  /** `count` and a sum of row hashes over the lineitem columns. */
  def checksum(df: DataFrame): (Long, Long) = {
    val cols = Data.LineitemSchema.fieldNames.toSeq.map(col)
    val r = df.select(cols: _*)
      .agg(count(lit(1)), sum(pmod(xxhash64(cols: _*), lit(1000000007L)))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Final-state check: the replica equals the base table with the applied
    * prefix of the change stream replayed by the model. */
  def finalStateCheck(c: Ctx, target: String, model: Model, applied: Int): (String, String) = {
    val fin = model.finalVersions(applied)
    val keys = Data.local(c.spark, fin.keys.toSeq.map { k => val (ok, ln) = Data.unpack(k); Row(ok, ln) },
      org.apache.spark.sql.types.StructType(Data.LineitemSchema.fields.filter(f =>
        Data.LineitemPk.contains(f.name))))
    val rows = fin.toSeq.filter(_._2 >= 0).map { case (k, v) => Changes.image(c.data, k, v) }
    val expected = c.sourceLineitem.join(keys, Data.LineitemPk, "left_anti")
      .select(Data.LineitemSchema.fieldNames.toSeq.map(col): _*)
      .unionByName(Data.local(c.spark, rows, Data.LineitemSchema))
    val want = checksum(expected)
    val got = checksum(CdcApplier.snapshot(c.spark, target))
    "final_state" -> (if (want == got) "ok" else s"rows/hash $got, model $want")
  }

  /** Median set-up time over [[SetupReps]] repetitions of `once(r, traced)`,
    * the last repetition's product kept, plus the traced and untraced
    * set-up times a traced run compares. A traced run sets up once more,
    * untraced and first, so both sides of that comparison are warm. */
  private def setup[T](c: Ctx)(once: (Int, Boolean) => T): (T, Double, Seq[Double], Seq[Double]) = {
    val plan = if (c.tracer.enabled) Seq(false, true, false) else Seq.fill(SetupReps)(false)
    val runs = plan.zipWithIndex.map { case (tr, r) => (tr, time(once(r, tr))) }
    val secs = runs.map(_._2._2 / 1e9)
    val warm = if (c.tracer.enabled) runs.drop(1) else runs
    def of(tr: Boolean) = warm.filter(_._1 == tr).map(_._2._2 / 1e9)
    (runs.last._2._1, Stats.median(secs), of(true), of(false))
  }

  /** Tracing overhead: traced minus untraced operations of the same run,
    * each side summarized by the workload's own `opMs`. */
  private def overhead(setupT: Seq[Double], setupU: Seq[Double], ops: Seq[Sample],
      opMs: Seq[Sample] => Double): Seq[(String, Double, String)] = {
    def medOr0(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    Seq(
      ("bench.tracing_overhead.setup_s", medOr0(setupT) - medOr0(setupU), "s"),
      ("bench.tracing_overhead.op_ms", opMs(ops.filter(_.traced)) - opMs(ops.filterNot(_.traced)), "ms"))
  }

  private def medianServiceMs(xs: Seq[Sample]): Double = med(xs.map(_.serviceMs))
  private def meanServiceMs(xs: Seq[Sample]): Double =
    if (xs.isEmpty) 0.0 else xs.map(_.serviceMs).sum / xs.size

  /** sql_read's operation latency: the mix-weighted mean of the per-class
    * median latencies — the expected latency of a query drawn from the mix,
    * robust to where the overall median falls between classes. */
  def mixLatencyMs(xs: Seq[Sample]): Double = {
    val byClass = xs.groupBy(_.kind)
    val present = SqlMix.filter { case (cl, _) => byClass.contains(cl) }
    if (present.isEmpty) Double.NaN
    else present.map { case (cl, w) => w * Stats.median(byClass(cl).map(_.latencyMs)) }.sum /
      present.map(_._2).sum
  }

  /** Every per-layer metric, zero where the workload does not exercise the
    * layer; workloads overwrite what they measure. */
  def layerTemplate: mutable.LinkedHashMap[String, (Double, String)] = {
    val m = mutable.LinkedHashMap[String, (Double, String)]()
    Seq("streaming.batch_ms" -> "ms", "streaming.batch_jobs" -> "count",
      "streaming.batch_stages" -> "count", "streaming.batch_tasks" -> "count",
      "streaming.batch_task_ms" -> "ms", "streaming.batch_driver_gap_ms" -> "ms",
      "streaming.batch_shuffle_bytes" -> "bytes", "streaming.batch_output_bytes" -> "bytes",
      "cdc.buckets_touched" -> "count", "cdc.write_amp" -> "ratio",
      "cdc.files_per_bucket" -> "count", "cdc.space_amp" -> "ratio",
      "cdc.compact_ms" -> "ms", "cdc.compact_bytes_rewritten" -> "bytes",
      "cdc.lookup_ms" -> "ms", "cdc.lookup_jobs" -> "count",
      "cdc.lookup_rows_scanned_per_row" -> "ratio", "cdc.lookup_retries" -> "count",
      "cdc.lookup_buckets_read_ratio" -> "ratio", "cdc.bootstrap_ms" -> "ms")
      .foreach { case (k, u) => m(k) = (0.0, u) }
    Seq("catalog.analyze_ms" -> "ms", "plans.optimize_ms" -> "ms", "sources.plan_ms" -> "ms",
      "sources.exec_ms" -> "ms", "sources.jobs" -> "count",
      "sources.rows_scanned_per_row" -> "ratio", "sources.shuffle_bytes" -> "bytes")
      .foreach { case (k, u) => Classes.foreach(cl => m(s"$k.$cl") = (0.0, u)) }
    Seq("plans.index_route_fired_ratio" -> "ratio", "sources.spj_exchange_free" -> "bool",
      "workload.apply_rows_per_s" -> "rows/s", "workload.apply_ms_p50" -> "ms",
      "workload.apply_ms_tail" -> "ms", "workload.lag_ms_p50" -> "ms",
      "workload.lag_ms_tail" -> "ms", "workload.lookup_ms_p50" -> "ms",
      "workload.lookup_ms_tail" -> "ms", "workload.query_ms_p50" -> "ms",
      "workload.query_ms_tail" -> "ms", "workload.failed_frac" -> "ratio",
      "bench.generator_late_ms_max" -> "ms", "bench.backlog_end" -> "count")
      .foreach { case (k, u) => m(k) = (0.0, u) }
    m
  }

  private def put(m: mutable.LinkedHashMap[String, (Double, String)], k: String, v: Double): Unit = {
    require(m.contains(k), s"undeclared per-layer metric $k")
    m(k) = (if (v.isNaN) 0.0 else v, m(k)._2)
  }

  /** Copies a run record's report into the per-layer metrics it names. */
  private def putReport(m: mutable.LinkedHashMap[String, (Double, String)],
      report: Seq[(String, Double)]): Unit = report.foreach { case (k, v) =>
    val layer = k match {
      case "space_amp" | "lookup_retries" => "cdc"
      case "generator_late_ms_max" | "backlog_end" => "bench"
      case _ => "workload"
    }
    put(m, s"$layer.$k", v)
  }

  private def med(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)

  /** Per-batch medians of the traced `applyMicroBatch` spans. */
  private def batchLayers(c: Ctx, m: mutable.LinkedHashMap[String, (Double, String)],
      spans: Seq[Stats.Span], wall0Ms: Long, wall0Ns: Long): Unit = {
    val t = c.tracer
    val ws = spans.map(s => s -> t.inclusive(s))
    put(m, "streaming.batch_ms", med(spans.map(s => ms(s.durNs))))
    put(m, "streaming.batch_jobs", med(ws.map(w => t.sum(w._2)(_.jobs).toDouble)))
    put(m, "streaming.batch_stages", med(ws.map(w => t.sum(w._2)(_.stages).toDouble)))
    put(m, "streaming.batch_tasks", med(ws.map(w => t.sum(w._2)(_.tasks).toDouble)))
    put(m, "streaming.batch_task_ms", med(ws.map(w => t.sum(w._2)(_.taskMs).toDouble)))
    put(m, "streaming.batch_shuffle_bytes", med(ws.map(w => t.sum(w._2)(_.shuffleBytes).toDouble)))
    put(m, "streaming.batch_output_bytes", med(ws.map(w => t.sum(w._2)(_.outputBytes).toDouble)))
    put(m, "streaming.batch_driver_gap_ms",
      med(ws.map { case (s, w) => t.driverGapMs(s, w, wall0Ms, wall0Ns) }))
  }

  private def bootstrapLayer(c: Ctx, m: mutable.LinkedHashMap[String, (Double, String)]): Unit =
    put(m, "cdc.bootstrap_ms", med(c.tracer.all.filter(_.name == "cdc.bootstrap").map(s => ms(s.durNs))))

  // ------------------------------------------------------------ cow_catchup

  /** Drains a seeded backlog of fixed-size batches through the copy-on-write
    * path, closed loop, for the run's seconds. */
  def cowCatchup(c: Ctx): Result = {
    val spark = c.spark
    val opts = CdcApplier.Options(Data.LineitemPk, numBuckets = Buckets)
    val popts = StreamingPipeline.PipelineOptions(opts)
    val (target, setupS, setT, setU) = setup(c) { (r, tr) =>
      val dir = c.work.resolve(s"cow$r").toString
      c.tracer.span("cdc.bootstrap", on = tr) {
        CdcApplier.bootstrap(spark, c.sourceLineitem, dir, 0L, opts)
      }
      dir
    }
    phase("setup done")
    val baseRows = c.data.baseKeys.length
    val rowBytes = storedBytes(Path.of(target)).toDouble / baseRows
    // The backlog: more batches than the run can drain, generated up front.
    val gen = new ChangeGen(c.data, c.seed, 0L)
    val backlog = Vector.fill(math.max(40, c.seconds * 3))(gen.batch(CowBatch))
    phase("backlog generated")
    // Warm-up, untimed: the backlog's first batches run the apply path until
    // JIT compilation has settled, so the timed window does not measure it.
    (0 until CowWarmBatches).foreach(b =>
      StreamingPipeline.applyMicroBatch(spark, Changes.frame(spark, c.data, backlog(b)), target, popts))
    val wall0Ms = System.currentTimeMillis(); val wall0Ns = now()
    val end = now() + c.seconds * 1000000000L
    val samples = mutable.ArrayBuffer[Sample]()
    val touched = mutable.ArrayBuffer[Double]()
    var live = baseRows.toLong + backlog.take(CowWarmBatches).flatten.map(ch =>
      if (ch.op == "insert") 1 else if (ch.op == "delete") -1 else 0).sum
    var spaceAmp = 0.0
    var i = CowWarmBatches
    while (now() < end && i < backlog.size) {
      val batch = backlog(i)
      val df = Changes.frame(spark, c.data, batch)
      val tr = c.traced(i)
      val s = now()
      c.tracer.span("streaming.applyMicroBatch", i + 1L, on = tr) {
        StreamingPipeline.applyMicroBatch(spark, df, target, popts)
      }
      samples += Sample(s, s, now(), tr)
      live += batch.count(_.op == "insert") - batch.count(_.op == "delete")
      spaceAmp = math.max(spaceAmp, storedBytes(Path.of(target)) / (live * rowBytes))
      if (tr) c.tracer.span("cdc.commitStamps", i + 1L) {
        CdcApplier.commitStamps(spark, target).lastOption.flatMap(_.buckets)
          .foreach(b => touched += b.size)
      }
      i += 1
    }
    measured()
    val applied = i * CowBatch
    val applyMs = samples.map(_.serviceMs)
    val rowsPerS = samples.size * CowBatch / (samples.map(s => s.endNs - s.startNs).sum / 1e9)
    val checks = Seq(finalStateCheck(c, target, new Model(backlog.take(i).flatten), applied))
    val (p50, tail) = lat(applyMs.toSeq)
    val report = Seq("apply_rows_per_s" -> rowsPerS, "apply_ms_p50" -> p50,
      "apply_ms_tail" -> tail, "space_amp" -> spaceAmp, "failed_frac" -> 0.0)
    val layers = if (!c.tracer.enabled) Nil else {
      c.tracer.drain()
      val m = layerTemplate
      val spans = c.tracer.all.filter(_.name == "streaming.applyMicroBatch")
      batchLayers(c, m, spans, wall0Ms, wall0Ns)
      put(m, "cdc.buckets_touched", med(touched))
      val written = spans.map(s => c.tracer.sum(c.tracer.inclusive(s))(_.outputBytes).toDouble)
      put(m, "cdc.write_amp", med(written) / (CowBatch * rowBytes))
      put(m, "cdc.files_per_bucket", filesPerBucket(Path.of(target)))
      bootstrapLayer(c, m)
      putReport(m, report)
      m.toSeq.map { case (k, (v, u)) => (k, v, u) } ++
        overhead(setT, setU, samples.toSeq, medianServiceMs)
    }
    Result(setupS, p50, applyMs.toSeq, samples.size + 1L, checks.count(_._2 != "ok").toLong,
      overCapacity = false, checks, report, layers)
  }

  // --------------------------------------------------------------- mor_live

  /** One writer applying a fixed-rate change stream through the
    * merge-on-read path beside one reader issuing fixed-rate point lookups. */
  def morLive(c: Ctx): Result = {
    val spark = c.spark
    val opts = CdcApplier.Options(Data.LineitemPk, numBuckets = Buckets)
    val popts = StreamingPipeline.PipelineOptions(opts, morSink = true)
    val emptyEnvelope = Data.local(spark, Nil, Data.EnvelopeSchema).drop("table")
    val (target, setupS, setT, setU) = setup(c) { (r, tr) =>
      val dir = c.work.resolve(s"mor$r").toString
      c.tracer.span("cdc.bootstrap", on = tr) {
        CdcApplier.applyBatchMor(spark, emptyEnvelope, dir, opts) // marks the layout mor
        CdcApplier.bootstrap(spark, c.sourceLineitem, dir, 0L, opts)
      }
      dir
    }
    phase("setup done")
    val base = c.data.baseKeys
    val baseRows = base.length
    val rowBytes = storedBytes(Path.of(target)).toDouble / baseRows
    val gen = new ChangeGen(c.data, c.seed, 0L)
    val warm = MorWarmChanges
    val changes = gen.batch(warm + (MorChangesPerS * c.seconds * 1.2).toInt + 1000).toIndexedSeq
    val lookupCount = (MorLookupsPerS * c.seconds).toInt + 10
    val lookupKeys = Vector.fill(lookupCount)(gen.baseKeys(MorLookupKeys, base))
    val keySchema = org.apache.spark.sql.types.StructType(
      Data.LineitemSchema.fields.filter(f => Data.LineitemPk.contains(f.name)))
    val lookupFrames = lookupKeys.map(ks => Data.local(spark,
      ks.map { k => val (ok, ln) = Data.unpack(k); Row(ok, ln) }, keySchema))

    phase("inputs generated")
    // Warm-up, untimed: one batch, one compaction and two lookups run each
    // code path once, so the timed window does not measure JIT compilation.
    StreamingPipeline.applyMicroBatch(spark, Changes.frame(spark, c.data, changes.take(warm)),
      target, popts)
    CdcApplier.compactMor(spark, target)
    lookupFrames.take(2).foreach(f => CdcApplier.pointLookup(spark, target, f).collect())
    phase("warmed up")
    val changeSched = Stats.Schedule(MorChangesPerS)
    val lookupSched = Stats.Schedule(MorLookupsPerS)
    // commitEnds(j): changes applied once commit j finished (j = 0: bootstrap,
    // j = 1: the warm-up batch); the timed stream starts after the warm-up.
    val commitEnds = new java.util.concurrent.CopyOnWriteArrayList[Integer](
      Seq[Integer](0, warm).asJava)
    val t0 = now()
    val wall0Ms = System.currentTimeMillis()
    val endNs = t0 + c.seconds * 1000000000L
    // Every change created in the window is committed and timed, also when
    // that takes the writer past the window's end.
    val inWindow = (warm + changeSched.dueBefore(c.seconds.toDouble)).toInt
    @volatile var endBacklog = -1L
    @volatile var writerError: Throwable = null
    val batches = mutable.ArrayBuffer[Sample]()
    val lags = mutable.ArrayBuffer[Sample]()
    val backlog = mutable.ArrayBuffer[Long]()
    val lateMs = new AtomicLong(0)
    val files = mutable.ArrayBuffer[Double]()
    var spaceAmp = 0.0
    var committed = warm
    var live = baseRows.toLong + changes.take(warm).map(ch =>
      if (ch.op == "insert") 1 else if (ch.op == "delete") -1 else 0).sum
    // compactMor's per-bucket swap is not isolated from readers: a lookup
    // overlapping it has returned no row for a key that was never changed
    // (a reader's `openTarget` restores a `.bak` the writer is between
    // renaming). So a lookup and a compaction exclude each other, as behind
    // a table lock; a lookup's wait is in its latency, timed from when due.
    val compactionLock = new java.util.concurrent.locks.ReentrantLock()
    val writer = new Thread(() => {
      try {
        var batchNo = 0L
        var afterCompaction = false
        // Each iteration applies every change due so far, as soon as the last
        // batch ended; with nothing due it waits for the next change.
        while (committed < inWindow) {
          val due = math.min(warm + changeSched.dueBy((now() - t0) / 1e9), inWindow.toLong).toInt
          if (endBacklog < 0 && now() >= endNs) endBacklog = (inWindow - committed).toLong
          backlog += (due - committed).toLong
          if (due <= committed) {
            val nextNs = t0 + (changeSched.dueS(committed - warm) * 1e9).toLong
            val sleepNs = nextNs - now()
            if (sleepNs > 0) {
              Thread.sleep(sleepNs / 1000000, (sleepNs % 1000000).toInt)
              lateMs.accumulateAndGet(math.max(0L, (now() - nextNs) / 1000000), math.max)
            }
          } else {
            val batch = changes.slice(committed, due)
            val tr = c.traced(batchNo)
            batchNo += 1
            val s = now()
            val df = Changes.frame(spark, c.data, batch)
            c.tracer.span("streaming.applyMicroBatch", batchNo, on = tr) {
              StreamingPipeline.applyMicroBatch(spark, df, target, popts)
            }
            val e = now()
            val kind = if (afterCompaction) "after_compaction" else ""
            batches += Sample(s, s, e, tr, kind)
            (committed until due).foreach(k => lags += Sample(
              t0 + (changeSched.dueS(k - warm) * 1e9).toLong, s, e, tr, kind))
            committed = due
            commitEnds.add(due)
            live += batch.count(_.op == "insert") - batch.count(_.op == "delete")
            spaceAmp = math.max(spaceAmp, storedBytes(Path.of(target)) / (live * rowBytes))
            if (tr) files += filesPerBucket(Path.of(target))
            afterCompaction = batchNo % MorCompactEvery == 0 && committed < inWindow
            if (afterCompaction)
              c.tracer.span("cdc.compactMor", batchNo, on = c.traced(batchNo / MorCompactEvery - 1)) {
                compactionLock.lock()
                try CdcApplier.compactMor(spark, target) finally compactionLock.unlock()
              }
          }
        }
      } catch { case e: Throwable => writerError = e }
    }, "replbench-writer")

    final case class Lookup(i: Int, before: Int, after: Int, rows: Seq[Row], sample: Sample)
    val lookups = mutable.ArrayBuffer[Lookup]()
    val retries = new AtomicInteger
    val lookupBuckets = mutable.ArrayBuffer[Int]()
    val lookupErrors = mutable.ArrayBuffer[String]()
    val readerBacklog = mutable.ArrayBuffer[Long]()
    val reader = new Thread(() => {
      var j = 0
      while (j < lookupSched.dueBefore(c.seconds.toDouble)) {
        val dueNs = t0 + (lookupSched.dueS(j) * 1e9).toLong
        val wait = dueNs - now()
        if (wait > 0) {
          Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
          lateMs.accumulateAndGet(math.max(0L, (now() - dueNs) / 1000000), math.max)
        }
        readerBacklog += (lookupSched.dueBy((now() - t0) / 1e9) - j)
        val tr = c.traced(j)
        val before = commitEnds.size - 1
        val s = now()
        def once() = c.tracer.span("cdc.pointLookup", 1000000L + j, on = tr) {
          val df = CdcApplier.pointLookup(spark, target, lookupFrames(j))
          val rows = df.collect().toSeq
          if (tr) lookupBuckets += bucketsRead(df)
          rows
        }
        var rows: Option[Seq[Row]] = None
        var attempt = 1
        while (rows.isEmpty && attempt <= MorLookupAttempts) {
          compactionLock.lock()
          try rows = Some(once()) catch {
            case e: Throwable =>
              System.err.println(s"[replbench] lookup $j attempt $attempt failed: " +
                e.toString.linesIterator.next())
              if (attempt == MorLookupAttempts) lookupErrors += e.toString
              else retries.incrementAndGet()
          } finally compactionLock.unlock()
          if (rows.isEmpty && attempt < MorLookupAttempts) Thread.sleep(MorRetryPauseMs * attempt)
          attempt += 1
        }
        val e = now()
        val after = commitEnds.size - 1
        lookups += Lookup(j, before, after, rows.getOrElse(Nil), Sample(dueNs, s, e, tr, ok = rows.isDefined))
        j += 1
      }
    }, "replbench-reader")
    writer.start(); reader.start()
    writer.join(); reader.join()
    if (writerError != null) throw writerError
    val writeSecs = (now() - t0) / 1e9
    measured()
    val backlogEnd = math.max(0L, endBacklog) + math.max(0L, lookupSched.dueBefore(c.seconds.toDouble) - lookups.size)

    // Lookup check: each key's row equals the model's state for that key
    // after some commit between the lookup's start and its end (+1: a commit
    // in flight when it ended).
    val model = new Model(changes.take(committed))
    val ends = commitEnds.asScala.map(_.intValue).toIndexedSeq
    val colNames = Data.LineitemSchema.fieldNames.toSeq
    var badLookups = 0
    var firstBad = ""
    def canonRow(r: Row) = Data.canon(Row.fromSeq(colNames.map(n => r.get(r.fieldIndex(n)))))
    lookups.foreach { l =>
      val keys = lookupKeys(l.i).distinct
      val byKey = l.rows.groupBy(r => r.getAs[Long]("l_orderkey") * 8 + r.getAs[Int]("l_linenumber"))
      val bad = if (!l.sample.ok) Some(s"failed $MorLookupAttempts times")
        else if (!byKey.keySet.subsetOf(keys.toSet) || !byKey.values.forall(_.size == 1))
          Some(s"unexpected rows for ${byKey.keySet.diff(keys.toSet)}")
        else keys.find { k =>
          val gotRow = byKey.get(k).map(rs => canonRow(rs.head))
          !(l.before to math.min(l.after + 1, ends.size - 1)).exists { j =>
            gotRow == Option(Changes.image(c.data, k, model.versionAt(k, ends(j), isBase = true)))
              .map(Data.canon)
          }
        }.map { k =>
          val states = (l.before to math.min(l.after + 1, ends.size - 1))
            .map(j => model.versionAt(k, ends(j), isBase = true)).distinct
          s"key ${Data.unpack(k)} got ${byKey.get(k).map(rs => canonRow(rs.head))}, " +
            s"versions after commits ${l.before}..${l.after + 1}: $states"
        }
      bad.foreach { b => badLookups += 1; if (firstBad.isEmpty) firstBad = s"lookup ${l.i}: $b" }
    }
    val lookupSamples = lookups.map(_.sample).filter(_.ok).toSeq
    val overCap = Stats.overCapacity(backlog.toSeq, (MorChangesPerS * OverCapacityS).toLong) ||
      Stats.overCapacity(readerBacklog.toSeq, math.max(3L, (MorLookupsPerS * OverCapacityS).toLong))
    val checks = Seq("lookups" -> (if (badLookups == 0) "ok" else s"$badLookups wrong, first $firstBad; errors ${lookupErrors.take(1)}"),
      finalStateCheck(c, target, model, committed))
    val (p50, tail) = lat(lookupSamples.map(_.latencyMs))
    // op_ms is the mean commit time of the batches begun inside the window,
    // except three kinds whose count varies from run to run: the first (it
    // starts on an empty queue and holds only the changes due in its first
    // milliseconds), the drain past the window (it runs without the reader),
    // and the batch after a compaction (it holds the changes that queued
    // behind it, and whether it falls in the window depends on when the
    // compaction did). A run holds about six such batches, whose mean moves
    // less between runs than their median.
    val timedBatches = batches.drop(1).filter(b => b.startNs < endNs && b.kind.isEmpty).toSeq
    val (a50, aTail) = lat(timedBatches.map(_.serviceMs))
    val (l50, lTail) = lat(lags.map(_.latencyMs).toSeq)
    phase("checked")
    val attempted = lookups.size + batches.size + 1L
    val report = Seq("apply_rows_per_s" -> (committed - warm) / writeSecs, "apply_ms_p50" -> a50,
      "apply_ms_tail" -> aTail, "lag_ms_p50" -> l50, "lag_ms_tail" -> lTail,
      "lookup_ms_p50" -> p50, "lookup_ms_tail" -> tail, "space_amp" -> spaceAmp,
      "failed_frac" -> badLookups.toDouble / attempted,
      "generator_late_ms_max" -> lateMs.get.toDouble, "backlog_end" -> backlogEnd.toDouble,
      "lookup_retries" -> retries.get.toDouble)
    val layers = if (!c.tracer.enabled) Nil else {
      c.tracer.drain()
      val m = layerTemplate
      val t = c.tracer
      val applies = t.all.filter(_.name == "streaming.applyMicroBatch")
      batchLayers(c, m, applies, wall0Ms, t0)
      val tracedSizes = batches.indices.filter(c.traced(_)).map(i => ends(i + 2) - ends(i + 1))
      put(m, "cdc.write_amp", med(applies.zip(tracedSizes).map { case (s, n) =>
        t.sum(t.inclusive(s))(_.outputBytes) / (n * rowBytes)
      }))
      put(m, "cdc.files_per_bucket", med(files))
      val compacts = t.all.filter(_.name == "cdc.compactMor")
      put(m, "cdc.compact_ms", med(compacts.map(s => ms(s.durNs))))
      put(m, "cdc.compact_bytes_rewritten",
        med(compacts.map(s => t.sum(t.inclusive(s))(_.outputBytes).toDouble)))
      val lk = t.all.filter(_.name == "cdc.pointLookup")
      put(m, "cdc.lookup_ms", med(lk.map(s => ms(s.durNs))))
      put(m, "cdc.lookup_jobs", med(lk.map(s => t.sum(t.inclusive(s))(_.jobs).toDouble)))
      put(m, "cdc.lookup_rows_scanned_per_row", med(lk.map(s =>
        t.sum(t.inclusive(s))(_.inputRows).toDouble / MorLookupKeys)))
      put(m, "cdc.lookup_buckets_read_ratio", med(lookupBuckets.map(_.toDouble / Buckets)))
      bootstrapLayer(c, m)
      putReport(m, report)
      m.toSeq.map { case (k, (v, u)) => (k, v, u) } ++
        overhead(setT, setU, timedBatches, meanServiceMs)
    }
    val failed = badLookups + checks.count { case (k, v) => k == "final_state" && v != "ok" }
    Result(setupS, meanServiceMs(timedBatches), timedBatches.map(_.serviceMs), attempted, failed.toLong,
      overCap, checks, report, layers)
  }

  // --------------------------------------------------------------- sql_read

  final case class Query(cls: String, sql: String, expected: Seq[String])

  /** One client issuing a seeded query mix at a fixed rate against orders and
    * lineitem co-bucketed on orderkey in a graft catalog namespace, with a
    * secondary index on `o_custkey` routed by [[GraftIndexRoute]]. */
  def sqlRead(c: Ctx): Result = {
    val spark = c.spark
    val d = c.data
    val oOpts = CdcApplier.Options(Seq("o_orderkey"), numBuckets = Buckets)
    val lOpts = CdcApplier.Options(Data.LineitemPk, numBuckets = Buckets,
      bucketCols = Some(Seq("l_orderkey")))
    val iOpts = CdcApplier.Options(Seq("o_custkey", "o_orderkey"), numBuckets = Buckets,
      bucketCols = Some(Seq("o_custkey")))
    val catRoot = c.work.resolve("catalog")
    // What a storage-partitioned join needs from any session: V2 bucketing
    // on, and no broadcast join chosen ahead of it for the small side.
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (ns, setupS, setT, setU) = setup(c) { (r, tr) =>
      val ns = s"ns$r"
      c.tracer.span("cdc.bootstrap", on = tr) {
        spark.sql(s"CREATE NAMESPACE IF NOT EXISTS bench.$ns")
        spark.sql(s"""CREATE TABLE bench.$ns.orders (${Data.OrdersSchema.toDDL})
                      OPTIONS (pk 'o_orderkey', buckets '$Buckets')""")
        spark.sql(s"""CREATE TABLE bench.$ns.lineitem (${Data.LineitemSchema.toDDL})
                      OPTIONS (pk 'l_orderkey,l_linenumber', bucketCols 'l_orderkey',
                               buckets '$Buckets')""")
        val store = catRoot.resolve(s"$ns/orders").toString
        CdcApplier.bootstrap(spark, c.sourceOrders, store, 0L, oOpts)
        CdcApplier.bootstrap(spark, c.sourceLineitem, catRoot.resolve(s"$ns/lineitem").toString,
          0L, lOpts)
        val index = c.work.resolve(s"orders_custkey_$ns").toString
        CdcApplier.bootstrap(spark, c.sourceOrders.select("o_custkey", "o_orderkey"), index,
          0L, iOpts)
        GraftIndexRoute.install(spark)
        GraftIndexRoute.register(store, "o_custkey", index)
      }
      ns
    }
    phase("setup done")
    // The query stream and its answers, all before timing. Point and index
    // answers come from the generator; agg and join answers from plain Spark
    // over the source parquet.
    c.sourceOrders.createOrReplaceTempView("src_orders")
    c.sourceLineitem.createOrReplaceTempView("src_lineitem")
    val rng = new java.util.SplittableRandom(c.seed)
    val byCust = (1L to d.orders).groupBy(d.custkey)
    def aggSql(t: String, day: String) =
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty,
                 sum(l_extendedprice) AS price
          FROM $t WHERE l_shipdate <= DATE'$day' GROUP BY l_returnflag, l_linestatus"""
    def joinSql(o: String, l: String, day: String) =
      s"""SELECT o.o_orderpriority, count(*) AS n, sum(l.l_extendedprice) AS revenue
          FROM $o o JOIN $l l ON o.o_orderkey = l.l_orderkey
          WHERE o.o_orderdate >= DATE'$day' AND o.o_orderdate < DATE'$day' + INTERVAL 90 DAYS
            AND l.l_commitdate < l.l_receiptdate
          GROUP BY o.o_orderpriority"""
    // Agg and join answers depend only on the base tables, so they are
    // computed once per data version and kept beside it.
    def answer(sql: String) = {
      val f = c.src.resolve(s"answer-${Integer.toHexString(sql.hashCode)}.txt")
      if (Files.exists(f)) Files.readAllLines(f).asScala.toSeq
      else {
        val rows = spark.sql(sql).collect().map(Data.canon).toSeq.sorted
        val tmp = c.src.resolve(s"${f.getFileName}.${ProcessHandle.current().pid()}")
        Files.write(tmp, rows.asJava)
        Files.move(tmp, f, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        rows
      }
    }
    val days = Seq("1993-09-01", "1995-01-01", "1997-07-01")
    val aggPool = days.map(dd => Query("agg", aggSql(s"bench.$ns.lineitem", dd),
      answer(aggSql("src_lineitem", dd))))
    val joinPool = days.map(dd => Query("join", joinSql(s"bench.$ns.orders", s"bench.$ns.lineitem", dd),
      answer(joinSql("src_orders", "src_lineitem", dd))))
    val count = (SqlQueriesPerS * c.seconds).toInt + 5
    val queries = Vector.tabulate(count) { i =>
      val cls = SqlPattern(i % SqlPattern.size)
      cls match {
        case "point" =>
          val ks = Seq.fill(10)(1L + rng.nextInt(d.orders)).distinct
          Query(cls, s"SELECT ${Data.OrdersSchema.fieldNames.mkString(", ")} FROM bench.$ns.orders WHERE o_orderkey IN (${ks.mkString(", ")})",
            ks.map(k => Data.canon(d.orderRow(k))).sorted)
        case "index" =>
          val cs = Seq.fill(5)(1L + rng.nextInt(d.orders / 10)).distinct
          Query(cls, s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
                                o_orderpriority
                         FROM bench.$ns.orders WHERE o_custkey IN (${cs.mkString(", ")})""",
            cs.flatMap(ck => byCust.getOrElse(ck, Nil)).map { ok =>
              Data.canon(Row.fromSeq(d.orderRow(ok).toSeq.take(6)))
            }.sorted)
        case "agg" => aggPool(rng.nextInt(aggPool.size))
        case _ => joinPool(rng.nextInt(joinPool.size))
      }
    }

    // Warm-up, untimed: one query of each class through the catalog.
    Classes.foreach(cl => queries.find(_.cls == cl).foreach(q => spark.sql(q.sql).collect()))
    phase("inputs generated, warmed up")
    final case class Traced(cls: String, root: Long, rows: Int, analyzeMs: Double,
        optimizeMs: Double, planMs: Double, execMs: Double, routed: Boolean, exchangeFree: Boolean)
    val traces = mutable.ArrayBuffer[Traced]()
    val sched = Stats.Schedule(SqlQueriesPerS)
    val samples = mutable.ArrayBuffer[Sample]()
    val backlog = mutable.ArrayBuffer[Long]()
    var late = 0L
    var wrong = 0
    var firstWrong = ""
    val t0 = now()
    var j = 0
    while (j < sched.dueBefore(c.seconds.toDouble)) {
      val q = queries(j)
      val dueNs = t0 + (sched.dueS(j) * 1e9).toLong
      val wait = dueNs - now()
      if (wait > 0) {
        Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        late = math.max(late, (now() - dueNs) / 1000000)
      }
      backlog += sched.dueBy((now() - t0) / 1e9) - j
      // Whole cycles are traced alternately, so both halves hold every class.
      val tr = c.traced(j / SqlPattern.size)
      val s = now()
      val got = try Some {
        if (!tr) spark.sql(q.sql).collect().toSeq
        else {
          val t = c.tracer
          val fired0 = GraftIndexRoute.fired
          t.span(s"sql.${q.cls}", 2000000L + j) {
            val root = t.current
            val (df, an) = time(t.span("catalog.analyze", 2000000L + j)(spark.sql(q.sql)))
            val (_, op) = time(t.span("plans.optimize", 2000000L + j)(df.queryExecution.optimizedPlan))
            val (_, pl) = time(t.span("sources.plan", 2000000L + j)(df.queryExecution.executedPlan))
            val (rows, ex) = time(t.span("sources.exec", 2000000L + j)(df.collect().toSeq))
            traces += Traced(q.cls, root, rows.size, ms(an), ms(op), ms(pl), ms(ex),
              GraftIndexRoute.fired > fired0, exchangeFree(df.queryExecution.executedPlan))
            rows
          }
        }
      } catch { case e: Throwable => if (firstWrong.isEmpty) firstWrong = s"${q.cls}: $e"; None }
      val e = now()
      val ok = got.exists(rows => rows.map(Data.canon).sorted == q.expected)
      if (!ok) {
        wrong += 1
        if (firstWrong.isEmpty) firstWrong = s"${q.cls} answer differs: got " +
          got.map(_.map(Data.canon).sorted.take(2).mkString(" / ")).getOrElse("error") +
          s"; want ${q.expected.take(2).mkString(" / ")}"
      }
      samples += Sample(dueNs, s, e, tr, q.cls, ok)
      j += 1
    }
    measured()
    val backlogEnd = math.max(0L, sched.dueBefore(c.seconds.toDouble) - j)
    val overCap = Stats.overCapacity(backlog.toSeq, math.max(3L, (SqlQueriesPerS * OverCapacityS).toLong))
    val checks = Seq("answers" -> (if (wrong == 0) "ok" else s"$wrong wrong, first $firstWrong"))
    val (k50, kTail) = lat(samples.filter(s => s.ok && (s.kind == "point" || s.kind == "index")).map(_.latencyMs).toSeq)
    val (q50, qTail) = lat(samples.filter(s => s.ok && (s.kind == "agg" || s.kind == "join")).map(_.latencyMs).toSeq)
    val report = Seq("lookup_ms_p50" -> k50, "lookup_ms_tail" -> kTail, "query_ms_p50" -> q50,
      "query_ms_tail" -> qTail, "failed_frac" -> wrong.toDouble / samples.size.max(1),
      "generator_late_ms_max" -> late.toDouble, "backlog_end" -> backlogEnd.toDouble)
    val layers = if (!c.tracer.enabled) Nil else {
      c.tracer.drain()
      val t = c.tracer
      val roots = t.all.filter(_.name.startsWith("sql.")).map(s => s.id -> s).toMap
      val m = layerTemplate
      Classes.foreach { cl =>
        val ts = traces.filter(_.cls == cl).toSeq
        def w(x: Traced) = roots.get(x.root).map(t.inclusive).getOrElse(Nil)
        put(m, s"catalog.analyze_ms.$cl", med(ts.map(_.analyzeMs)))
        put(m, s"plans.optimize_ms.$cl", med(ts.map(_.optimizeMs)))
        put(m, s"sources.plan_ms.$cl", med(ts.map(_.planMs)))
        put(m, s"sources.exec_ms.$cl", med(ts.map(_.execMs)))
        put(m, s"sources.jobs.$cl", med(ts.map(x => t.sum(w(x))(_.jobs).toDouble)))
        put(m, s"sources.rows_scanned_per_row.$cl",
          med(ts.map(x => t.sum(w(x))(_.inputRows).toDouble / x.rows.max(1))))
        put(m, s"sources.shuffle_bytes.$cl", med(ts.map(x => t.sum(w(x))(_.shuffleBytes).toDouble)))
      }
      val idx = traces.filter(_.cls == "index")
      put(m, "plans.index_route_fired_ratio",
        if (idx.isEmpty) 0.0 else idx.count(_.routed).toDouble / idx.size)
      val joins = traces.filter(_.cls == "join")
      put(m, "sources.spj_exchange_free", if (joins.nonEmpty && joins.forall(_.exchangeFree)) 1.0 else 0.0)
      bootstrapLayer(c, m)
      putReport(m, report)
      m.toSeq.map { case (k, (v, u)) => (k, v, u) } ++ overhead(setT, setU, samples.toSeq, mixLatencyMs)
    }
    val answered = samples.filter(_.ok).toSeq
    Result(setupS, mixLatencyMs(answered), answered.map(_.latencyMs), samples.size.toLong, wrong.toLong,
      overCap, checks, report, layers)
  }

  /** True when the plan has a join and no Exchange feeds a join from a graft
    * V2 scan: every Exchange's input reaches no BatchScanExec without first
    * passing a join (an aggregate's exchange above the join is fine). */
  def exchangeFree(plan: SparkPlan): Boolean = {
    def scanBelow(p: SparkPlan): Boolean = p match {
      case _: BatchScanExec => true
      case _: BaseJoinExec => false
      case other => allChildren(other).exists(scanBelow)
    }
    collect(plan) { case j: BaseJoinExec => j }.nonEmpty &&
      collect(plan) { case e: Exchange => e }.forall(e => !scanBelow(e.child))
  }

  /** Bucket directories a finished lookup read: the scan's partition count
    * when it read bucket directories, else the buckets of its listed files. */
  def bucketsRead(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan) { case f: FileSourceScanExec => f }.map { f =>
      f.metrics.get("numPartitions").map(_.value.toInt).filter(_ > 0).getOrElse(
        f.relation.location.inputFiles
          .flatMap(_.split("/").find(_.startsWith("graft_bucket="))).distinct.length)
    }.sum
}
