package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Benchmark harness (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Timing forces FULL evaluation of every output expression by iterating the
  * physical plan's RDD (`queryExecution.toRdd.foreach`): a bare `count()`
  * would let Catalyst prune unevaluated projections, so pure-projection
  * queries (q13/q14) would benchmark scan+count only. Failures are reported
  * in an `errors` map — never as a (fast) timing.
  *
  * Besides the per-query headline seconds, the JSON carries the raw
  * evidence that separates "plan regression" from "machine noise" without a
  * re-run (two rounds of driver-side inflation were unadjudicable from the
  * median alone):
  *  - `samples`: every raw sample per query (3 for the medianOf3 set, the
  *    warm+measured pair otherwise — the first entry is the warm-up);
  *  - `shuffle`: per-sample `[shuffleReadBytes, shuffleWriteBytes,
  *    stageCount]` from a stage-completion listener, aligned 1:1 with
  *    `samples`. Equal shuffle profiles across unequal sample times =
  *    machine; a changed profile = plan.
  *  - `rocksdb`: median-of-3 for the two heaviest stateful-streaming gates
  *    re-run under the production RocksDB state-store profile
  *    ([[graft.streaming.GraftConf.applyProductionStreamingProfile]]), so
  *    the claimed 100 TB deployment backend has a measured local cost.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    // Schema-drift canary (see Tables.expectedSchema): a testdata regen shows
    // up here as named stderr lines, not as opaque per-query errors.
    Tables.schemaDrift(spark, sfDir)
      .foreach(w => System.err.println(s"[schema-canary] $w"))

    // Cumulative stage/shuffle counters; per-sample deltas are snapshotted
    // around each run. Listener delivery is async — the post-job backlog is
    // tiny and the snapshot waits a beat, so deltas are exact in practice.
    val shufRead = new java.util.concurrent.atomic.AtomicLong
    val shufWrite = new java.util.concurrent.atomic.AtomicLong
    val stageCount = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stageCount.incrementAndGet()
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    def snap(): (Long, Long, Long) = {
      Thread.sleep(10) // drain the listener bus backlog
      (shufRead.get(), shufWrite.get(), stageCount.get())
    }

    // Streaming state-store sizes (r11 ask #7): the LAST progress per
    // streaming query seen during a measurement window, so every stateful
    // gate's bounded-state claim is a MEASURED number (numRowsTotal,
    // memoryUsedBytes per state operator), not an assertion. Keyed by
    // runId — a gate with several lifecycles reports each.
    // An EMPTY list is itself the measurement for the applier-target
    // gates (q217-class): their streaming queries run micro-batches with
    // ZERO Spark state-store rows — the bounded state lives in bucketed
    // graft targets, exactly the deployment claim. Recording the empty
    // profile distinguishes "streaming, no executor state" from "not a
    // streaming gate".
    val lastState = new java.util.concurrent.ConcurrentHashMap[
      java.util.UUID, Seq[(Long, Long)]]
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit =
          lastState.put(e.progress.runId, e.progress.stateOperators.toSeq
            .map(so => (so.numRowsTotal, so.memoryUsedBytes)))
      })

    // Warm up the session (codegen, file-index, scheduler) so the first
    // measured query doesn't absorb ~2s of one-time JVM/session cost.
    Tables.load(spark, sfDir, "region").queryExecution.toRdd.foreach(_ => ())

    var times = Vector.empty[(String, Double)]
    var samples = Vector.empty[(String, Seq[Double])]
    var shuffles = Vector.empty[(String, Seq[(Long, Long, Long)])]
    var states = Vector.empty[(String, Seq[Seq[(Long, Long)]])]
    var errors = Vector.empty[(String, String)]
    // Optional args restrict the run to the named queries (dev loop).
    val selected =
      if (args.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else SparkEntry.queries.filter(q => args.contains(q._1)).toSeq.sortBy(_._1)
    // The CDC/streaming entries do full end-to-end work (tmp-dir writes,
    // streaming-query startup) on EVERY run, so a single sample absorbs
    // whatever else the machine is doing. Median-of-3 keeps one noisy
    // sample from reading as a plan regression. The set covers every
    // harness-heavy query: the CDC merges, all streaming-vs-batch gates
    // (q71, q84–q88, q93, q94), and the CC probe (q54) — the round-6
    // false regressions all sat in the single-sample set. q41/q63/q67 are
    // join-heavy/probe-dependent and read as false regressions in r7's
    // single samples, so they get the median treatment too.
    val medianOf3 = Set(
      "q30_cdc_merge", "q32_incremental_merge", "q33_streaming_merge",
      "q41_neardup_jaccard", "q54_dedup_clusters", "q63_sql_surface",
      "q67_incremental_admit", "q71_stream_join", "q84_stream_window",
      "q85_stream_dedup", "q86_stream_admission", "q87_stream_admit_bounded",
      "q88_stream_sessions", "q93_epoch_snapshot", "q94_stream_minmax_view",
      "q97_stream_agg_view", "q101_stream_outer_join", "q105_stream_scd2",
      "q115_epoch_concurrent", "q116_compat_merge", "q123_secondary_index",
      "q127_stream_cms", "q128_stream_hll", "q129_mor_merge",
      "q130_stream_mor", "q131_mor_time_travel", "q133_covering_index",
      "q134_range_scan", "q135_forget", "q137_stream_enrich",
      "q138_mor_changefeed", "q147_bloom_join", "q149_stream_kmv",
      "q153_rebucket", "q154_stream_para_dedup", "q160_schema_evolution",
      "q161_stream_schema_evolution", "q162_stream_sliding",
      "q163_bootstrap", "q165_stream_full_outer", "q170_stream_index",
      "q171_backfill", "q174_ivm_join", "q181_mor_vacuum",
      "q182_stream_chi2_drift", "q194_stream_transitions",
      "q210_stream_attribution", "q215_stream_cusum",
      "q216_sql_connector", "q217_stream_join_view", "q218_stream_topk_view",
      "q219_stream_distinct_view", "q220_epoch_index", "q221_release_capstone",
      "q222_inverted_index", "q223_stream_inverted_index", "q224_sql_time_travel",
      "q225_sql_changefeed", "q226_sql_write", "q227_stream_changefeed",
      "q228_stream_replica", "q231_catalog_sql", "q234_sql_update",
      "q235_sql_merge", "q237_stream_neardup", "q240_sql_maintenance",
      "q244_runtime_bucket_pruning", "q245_sql_version_asof",
      "q246_connector_agg_pushdown", "q247_view_rewrite_join_subset",
      "q248_bloom_cross_release", "q249_two_stage_retrieval",
      "q250_file_skipping", "q251_two_stage_keyed_fetch",
      "q252_trained_codebook", "q253_type_widening", "q254_sql_history",
      "q255_spj_join", "q256_named_tags", "q257_commit_fence",
      "q258_column_rename", "q259_drop_column", "q260_codebook_refresh",
      "q261_sql_detail",
      "q262_sorted_spj", "q263_rollback", "q264_branch_wap",
      "q265_timestamp_travel", "q266_index_route", "q267_commit_rebase",
      "q268_residual_ivfpq", "q269_file_stats_sql",
      "q270_streamed_index_route", "q271_rollback_to_tag", "q272_zorder",
      "q273_index_route_sql", "q274_range_route", "q275_deletion_vectors",
      "q276_sorted_mor_compact", "q277_branch_sql_wap", "q278_cbo_stats",
      "q279_zorder_sql", "q280_stats_sql", "q281_dv_sql_delete",
      "q282_covered_route", "q283_create_index_ddl", "q284_stream_admission",
      "q285_cbo_histogram", "q286_auto_analyze", "q287_branch_sql_writes",
      "q288_merge_schema_evolution", "q289_residual_route",
      "q290_index_relation", "q291_table_audit", "q292_create_index_sql")

    def measure(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (Double, Seq[Double], Seq[(Long, Long, Long)]) = {
      def once(): (Double, (Long, Long, Long)) = {
        val (r0, w0, s0) = snap()
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
        val t = (System.nanoTime() - t0) / 1e9
        val (r1, w1, s1) = snap()
        (t, (r1 - r0, w1 - w0, s1 - s0))
      }
      val runs = Vector.fill(if (medianOf3(name)) 3 else 2)(once())
      val ts = runs.map(_._1)
      // headline: median for medianOf3, else the measured (second) run —
      // the first entry of `samples` is the warm-up either way
      val headline = if (medianOf3(name)) ts.sorted.apply(1) else ts.last
      (headline, ts, runs.map(_._2))
    }

    selected.foreach { case (name, fn) =>
      try {
        lastState.clear() // state rows of THIS gate's last sample only
        val (headline, ts, sh) = measure(name, fn)
        times :+= name -> headline
        samples :+= name -> ts
        shuffles :+= name -> sh
        if (!lastState.isEmpty) {
          import scala.jdk.CollectionConverters._
          // samples replay identical lifecycles — report distinct profiles
          states :+= name -> lastState.values.asScala.toSeq.distinct
        }
      } catch {
        case e: Throwable =>
          errors :+= name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
    }

    // RocksDB state-store arm: every gate whose 100 TB deployment claims
    // the RocksDB backend, re-run under the production streaming profile
    // ([[graft.streaming.GraftConf.applyProductionStreamingProfile]]; the
    // default arm above is the contrast). The two historical entries keep
    // their median-of-3 (round-over-round continuity); the r11 additions
    // (q217–q220, q223, q237 — the heavyweight stateful lifecycles) run
    // ONE lifecycle each: the arm prices the backend, the default arm
    // carries the regression-grade medians, and a 3x sample of five
    // ~25-40 s lifecycles would double the suite's wall clock for a
    // number that is not a regression gate. State rows are captured for
    // this arm too (`rocksdb_state`).
    var rocks = Vector.empty[(String, Double)]
    var rockStates = Vector.empty[(String, Seq[Seq[(Long, Long)]])]
    val rocksMedianQs = Seq("q87_stream_admit_bounded", "q170_stream_index")
    val rocksOnceQs = Seq(
      "q217_stream_join_view", "q218_stream_topk_view",
      "q219_stream_distinct_view", "q220_epoch_index",
      "q223_stream_inverted_index", "q237_stream_neardup")
    val rocksQs = (rocksMedianQs ++ rocksOnceQs)
      .filter(q => args.isEmpty || args.contains(q))
    if (rocksQs.nonEmpty) {
      val prev = graft.streaming.GraftConf.applyProductionStreamingProfile(spark)
      try rocksQs.foreach { name =>
        SparkEntry.queries.get(name).foreach { fn =>
          try {
            lastState.clear()
            def once(): Double = {
              val t0 = System.nanoTime()
              fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
              (System.nanoTime() - t0) / 1e9
            }
            val t =
              if (rocksMedianQs.contains(name)) Vector.fill(3)(once()).sorted.apply(1)
              else once()
            rocks :+= name -> t
            if (!lastState.isEmpty) {
              import scala.jdk.CollectionConverters._
              rockStates :+= name -> lastState.values.asScala.toSeq.distinct
            }
          } catch {
            case e: Throwable =>
              errors :+= s"rocksdb:$name" ->
                Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          }
        }
      } finally graft.streaming.GraftConf.restoreConf(spark, prev)
    }

    // AQE plan-drift canary arm (r12 ask #7): PlanSpec-locked batch
    // queries re-measured under the FORCED production AQE profile
    // (adaptive + coalescePartitions + skewJoin all on). Adaptive itself
    // is Spark 4's default — the main arm above already executes under
    // AQE — so this arm prices the full profile and, paired with
    // AqeCanarySpec's invariant asserts, catches a runtime re-plan that
    // would undo a locked property at scale. One sample per query:
    // pricing, not a regression gate.
    var aqeArm = Vector.empty[(String, Double)]
    val aqeQs = Seq("q02_filter_agg", "q03_join_topk", "q04_semi_join",
      "q05_anti_join", "q41_neardup_jaccard", "q42_minhash_lsh",
      "q108_salted_join", "q147_bloom_join", "q236_connector_stats")
      .filter(q => args.isEmpty || args.contains(q))
    if (aqeQs.nonEmpty) {
      val confs = Seq("spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled")
      val prevConfs = confs.map(k => k -> spark.conf.getOption(k))
      confs.foreach(k => spark.conf.set(k, "true"))
      try aqeQs.foreach { name =>
        SparkEntry.queries.get(name).foreach { fn =>
          try {
            val t0 = System.nanoTime()
            fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
            aqeArm :+= name -> ((System.nanoTime() - t0) / 1e9)
          } catch {
            case e: Throwable =>
              errors :+= s"aqe:$name" ->
                Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          }
        }
      } finally prevConfs.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }

    import graft.util.Json.{quote => jstr}
    val qs = times.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val ss = samples.map { case (k, v) =>
      s"${jstr(k)}:${v.map(t => f"$t%.3f").mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    val sh = shuffles.map { case (k, v) =>
      s"${jstr(k)}:${v.map { case (r, w, st) => s"[$r,$w,$st]" }.mkString("[", ",", "]")}"
    }.mkString("{", ",", "}")
    val rk = rocks.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    val aq = aqeArm.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
    def stateJson(v: Vector[(String, Seq[Seq[(Long, Long)]])]): String =
      v.map { case (k, qsStates) =>
        s"${jstr(k)}:${qsStates.map(_.map { case (n, m) => s"[$n,$m]" }
          .mkString("[", ",", "]")).mkString("[", ",", "]")}"
      }.mkString("{", ",", "}")
    val st = stateJson(states)
    val rst = stateJson(rockStates)
    val es = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    val total = times.map(_._2).sum
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"samples":$ss,"shuffle":$sh,"state":$st,"rocksdb":$rk,"rocksdb_state":$rst,"aqe":$aq,"errors":$es,"sf":"$sfDir"}"""
    println(json)
    // Also persist to a file: stdout passes through the driver's tail capture,
    // which has twice head-truncated the artifact (BENCH_r04/r05 parsed:null).
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_out.json")
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(out),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"bench: could not write $out: $e") }
    spark.stop()
  }
}
