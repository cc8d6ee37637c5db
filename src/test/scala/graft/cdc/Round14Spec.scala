package graft.cdc

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.CdcApplier.TargetMeta

/** Round-14 surfaces: the lookup cap + failure isolation on the index
  * route (q273/q274 + the round-13 ADVICE items) and its execution-time
  * plan (no planning jobs, run-time store bucket pruning), the
  * state-preserving publish's atomic theft refusal, the commit-stamp
  * retention floor, deletion-vector guard rails (q275), sorted-MOR
  * compaction honesty (q276), branch SQL-read edges (q277), and the
  * analyze/CBO stats surface (q278). The oracle gates cover the happy
  * paths; these pin the refusals and maintenance interactions. */
class Round14Spec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  private def newTarget(): String =
    Files.createTempDirectory("graft_r14").toString + "/t"
  private val opts = CdcApplier.Options(Seq("k"), numBuckets = 4)

  private def rows(n: Int): DataFrame =
    spark.range(1, n + 1).select($"id".as("k"), ($"id" * 2.0).as("v"))

  private def fsOf(target: String) =
    new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def meta(t: String): TargetMeta =
    TargetMeta.read(spark.sparkContext.hadoopConfiguration, new Path(t)).get

  // ---- index-route caps + failure isolation (ADVICE r13 / verdict #8) ----

  /** A store + (v, k) secondary index over it, both fed the same inserts. */
  private def storeWithIndex(n: Int): (String, String) = {
    val base = Files.createTempDirectory("graft_r14").toString
    val store = base + "/store"
    val index = base + "/index"
    val data = spark.range(1, n + 1)
      .select($"id".as("k"), ($"id" % 97).as("v"))
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(data, $"k" * 10), store, opts)
    CdcApplier.applyBatch(spark,
      ChangeFeed.inserts(data.select($"v", $"k"), $"k" * 10), index,
      CdcApplier.Options(Seq("v", "k"), bucketCols = Some(Seq("v")), numBuckets = 4))
    (store, index)
  }

  test("indexroute: an IN-list past maxKeys declines, exactly one tick per plan") {
    val (store, index) = storeWithIndex(50)
    import graft.plans.GraftIndexRoute
    GraftIndexRoute.install(spark)
    GraftIndexRoute.register(store, "v", index)
    try {
      spark.conf.set("spark.graft.indexroute.maxKeys", "8")
      val wide = (1L to 10000L).map(java.lang.Long.valueOf)
      val f0 = GraftIndexRoute.fired
      val d0 = GraftIndexRoute.declined
      CdcApplier.snapshot(spark, store)
        .filter($"v".isin(wide: _*)).select($"k", $"v")
        .queryExecution.optimizedPlan
      assert(GraftIndexRoute.fired == f0, "a 10k-literal IN must not route")
      assert(GraftIndexRoute.declined == d0 + 1,
        "the decline ticks exactly once per planned query")
      // 9 literals stays a plain In (below the InSet conversion threshold)
      // but exceeds the 8-key cap: the CAP itself must decline
      val d1 = GraftIndexRoute.declined
      CdcApplier.snapshot(spark, store)
        .filter($"v".isin((1L to 9L).map(java.lang.Long.valueOf): _*))
        .select($"k", $"v")
        .queryExecution.optimizedPlan
      assert(GraftIndexRoute.fired == f0 && GraftIndexRoute.declined == d1 + 1,
        "an IN past maxKeys must decline via the cap")
      // within the cap the same shape routes
      val f1 = GraftIndexRoute.fired
      CdcApplier.snapshot(spark, store)
        .filter($"v".isin(3L, 7L)).select($"k", $"v")
        .queryExecution.optimizedPlan
      assert(GraftIndexRoute.fired == f1 + 1)
    } finally {
      spark.conf.unset("spark.graft.indexroute.maxKeys")
      GraftIndexRoute.unregister(store, "v")
    }
  }

  test("indexroute: a broken index declines the rewrite, never fails planning") {
    val (store, index) = storeWithIndex(30)
    import graft.plans.GraftIndexRoute
    GraftIndexRoute.install(spark)
    GraftIndexRoute.register(store, "v", index)
    try {
      // the adversary: the index dir vanishes AFTER registration
      fsOf(index).delete(new Path(index), true)
      val d0 = GraftIndexRoute.declined
      val out = CdcApplier.snapshot(spark, store)
        .filter($"v" === 3L).select($"k", $"v").collect()
      assert(GraftIndexRoute.declined > d0, "the failure must count as a decline")
      assert(out.nonEmpty, "the plan must run as written")
    } finally GraftIndexRoute.unregister(store, "v")
  }

  test("indexroute: a range matching more than maxKeys index keys declines") {
    val base = Files.createTempDirectory("graft_r14").toString
    val store = base + "/store"
    val index = base + "/index"
    // `w` lives ONLY on the store, so projecting it forces the TWO-HOP
    // route — the form the key cap guards (a covered projection would
    // route uncapped, q282's contract, tested separately)
    val data = spark.range(1, 101)
      .select($"id".as("k"), ($"id" * 3).as("v"), ($"id" + 0.5).as("w"))
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(data, $"k" * 10), store, opts)
    CdcApplier.applyBatch(spark,
      ChangeFeed.inserts(data.select($"v", $"k"), $"k" * 10), index,
      CdcApplier.Options(Seq("v", "k"), bucketCols = Some(Seq("v")),
        rangeBounds = Some(Seq(100L, 200L))))
    import graft.plans.GraftIndexRoute
    GraftIndexRoute.install(spark)
    GraftIndexRoute.register(store, "v", index)
    try {
      spark.conf.set("spark.graft.indexroute.maxKeys", "5")
      val f0 = GraftIndexRoute.fired
      val d0 = GraftIndexRoute.declined
      CdcApplier.snapshot(spark, store)
        .filter($"v" >= 3L && $"v" <= 150L).select($"k", $"v", $"w")
        .queryExecution.optimizedPlan
      assert(GraftIndexRoute.fired == f0 && GraftIndexRoute.declined == d0 + 1,
        "a wide two-hop range must decline after the bounded count")
      // the SAME wide range with a COVERED projection routes uncapped
      // (q282: the one-hop form never fetches keys to the driver)
      val fc = GraftIndexRoute.fired
      CdcApplier.snapshot(spark, store)
        .filter($"v" >= 3L && $"v" <= 150L).select($"k", $"v")
        .queryExecution.optimizedPlan
      assert(GraftIndexRoute.fired == fc + 1,
        "the covered form of the same range routes under the tiny cap")
      spark.conf.set("spark.graft.indexroute.maxKeys", "1024")
      val f1 = GraftIndexRoute.fired
      val routed = CdcApplier.snapshot(spark, store)
        .filter($"v" >= 3L && $"v" <= 150L).select($"k", $"v", $"w")
      val got = routed.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(GraftIndexRoute.fired == f1 + 1, "inside the cap the range routes")
      val want = (1L to 50L).map(k => (k, k * 3)).toSeq
      assert(got == want, s"routed range answers must match: ${got.take(5)}...")
    } finally {
      spark.conf.unset("spark.graft.indexroute.maxKeys")
      GraftIndexRoute.unregister(store, "v")
    }
  }

  // ---- execution-time routing: no planning jobs, run-time bucket pruning ----

  /** Spark jobs started while `body` runs. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.sql.graft.ListenerDrain(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      org.apache.spark.sql.graft.ListenerDrain(spark)
      (r, n.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** The graft scans of the table at `dir` that `df` executes. */
  private def scansOf(df: DataFrame, dir: String) =
    graft.sources.GraftBatchScan.readsOf(df.queryExecution.optimizedPlan)
      .collect { case (d, scan) if d == new Path(dir).toUri.getPath => scan }

  /** Stored buckets holding the given store keys. */
  private def bucketsOf(store: String, keys: Seq[Long]): Long =
    spark.read.parquet(store).filter($"k".isin(keys: _*))
      .select(CdcApplier.BUCKET).distinct().count()

  /** One routed query: 0 jobs and exactly one fired tick while planning;
    * then, on a two-hop route, the store scan reads exactly the buckets the
    * matched keys live in; the answer equals the unrouted plan's. */
  private def assertRoutedAtExecution(query: () => DataFrame, store: String,
      storeCol: String, twoHop: Boolean, unroute: () => Unit): Unit = {
    import graft.plans.GraftIndexRoute
    val f0 = GraftIndexRoute.fired
    val d0 = GraftIndexRoute.declined
    val df = query()
    val (_, planJobs) = jobsDuring(df.queryExecution.optimizedPlan)
    assert(planJobs == 0, "a routed query must run no Spark job while planning")
    assert(GraftIndexRoute.fired == f0 + 1 && GraftIndexRoute.declined == d0,
      "one fired tick per planned query, though the batch re-applies the rule")
    val routed = df.collect().map(_.toString).sorted.toSeq
    val storeScans = scansOf(df, store)
    if (twoHop) {
      val keys = df.select(storeCol).collect().map(_.getLong(0)).toSeq
      val k = bucketsOf(store, keys)
      val n = CdcApplier.bucketIds(fsOf(store), new Path(store)).size
      assert(k > 0 && k < n, s"the fixture must match a strict bucket subset: $k/$n")
      assert(storeScans.size == 1, s"one store scan: $storeScans")
      assert(storeScans.head.lastPlannedBuckets.size == k,
        "the store scan must prune to the matched keys' buckets at run time")
    } else assert(storeScans.isEmpty, "a covered route never reads the store")
    unroute()
    assert(query().collect().map(_.toString).sorted.toSeq == routed,
      "routed and unrouted answers must be identical")
  }

  test("indexroute: two-hop routes run at execution, prune store buckets (snapshot)") {
    val base = Files.createTempDirectory("graft_r14").toString
    val (store, index) = (base + "/store", base + "/index")
    // `w` lives only on the store, so projecting it forces the two-hop route
    val data = spark.range(1, 201)
      .select($"id".as("k"), ($"id" % 50).as("v"), ($"id" + 0.5).as("w"))
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(data, $"k" * 10), store,
      CdcApplier.Options(Seq("k"), numBuckets = 16))
    CdcApplier.applyBatch(spark,
      ChangeFeed.inserts(data.select($"v", $"k"), $"k" * 10), index,
      CdcApplier.Options(Seq("v", "k"), bucketCols = Some(Seq("v")), numBuckets = 4))
    import graft.plans.GraftIndexRoute
    GraftIndexRoute.install(spark)
    GraftIndexRoute.register(store, "v", index)
    try assertRoutedAtExecution(
      () => CdcApplier.snapshot(spark, store).filter($"v".isin(3L, 7L)).select($"k", $"v", $"w"),
      store, "k", twoHop = true, () => GraftIndexRoute.unregister(store, "v"))
    finally GraftIndexRoute.unregister(store, "v")
  }

  test("indexroute: catalog SQL routes at execution (V2 leg); covered routes skip the store") {
    val root = Files.createTempDirectory("graft_r14cat").toString
    spark.conf.set("spark.sql.catalog.r14cat", "graft.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.r14cat.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS r14cat.prod")
    spark.sql("""CREATE TABLE r14cat.prod.routed (k BIGINT, v BIGINT, w DOUBLE)
                 OPTIONS (pk 'k', buckets '16')""")
    val store = s"$root/prod/routed"
    val data = spark.range(1, 201)
      .select($"id".as("k"), ($"id" % 50).as("v"), ($"id" + 0.5).as("w"))
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(data, $"k" * 10), store,
      CdcApplier.Options(Seq("k"), numBuckets = 16))
    val index = Files.createTempDirectory("graft_r14").toString + "/index"
    CdcApplier.applyBatch(spark,
      ChangeFeed.inserts(data.select($"v", $"k"), $"k" * 10), index,
      CdcApplier.Options(Seq("v", "k"), bucketCols = Some(Seq("v")), numBuckets = 4))
    import graft.plans.GraftIndexRoute
    GraftIndexRoute.install(spark)
    try {
      // a PK IN-list on the catalog table plans with no Spark job: its
      // bucket ids fold driver-side
      val (_, pkJobs) = jobsDuring(spark.sql(
        "SELECT k, w FROM r14cat.prod.routed WHERE k IN (3, 17, 42)").queryExecution.optimizedPlan)
      assert(pkJobs == 0, "a catalog PK IN-list must plan without a Spark job")
      GraftIndexRoute.register(store, "v", index)
      assertRoutedAtExecution(
        () => spark.sql("SELECT k, v, w FROM r14cat.prod.routed WHERE v IN (3, 7)"),
        store, "k", twoHop = true, () => GraftIndexRoute.unregister(store, "v"))
      GraftIndexRoute.register(store, "v", index)
      assertRoutedAtExecution(
        () => spark.sql("SELECT k, v FROM r14cat.prod.routed WHERE v = 7"),
        store, "k", twoHop = false, () => GraftIndexRoute.unregister(store, "v"))
    } finally GraftIndexRoute.unregister(store, "v")
  }

  test("pointLookup: a composite-key lookup collects its keys once, plans no job") {
    val t = newTarget()
    val data = spark.range(1, 101).select(($"id" % 10).as("a"), ($"id" / 10).cast("long").as("b"),
      ($"id" * 1.5).as("v"))
    val copts = CdcApplier.Options(Seq("a", "b"), numBuckets = 4)
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(data, $"a" * 1000 + $"b"), t, copts)
    // (1, 0) and (2, 1) exist; the cross product's (1, 1) and (2, 0) also
    // exist and must NOT match
    val keys = Seq((1L, 0L), (2L, 1L), (1L, 0L)).toDF("a", "b")
    val (rows, jobs) = jobsDuring(CdcApplier.pointLookup(spark, t, keys)
      .select($"a", $"b").collect())
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq == Seq((1L, 0L), (2L, 1L)),
      "the lookup must match the key tuples exactly")
    // the scan alone: no key-frame collects, bucket probes or broadcast
    assert(jobs == 1, s"one scan job: $jobs")
  }

  test("Branch.pointLookup: a local key frame maps to buckets with no job") {
    val t = newTarget()
    val morOpts = CdcApplier.Options(Seq("k"), numBuckets = 4)
    CdcApplier.applyBatchMor(spark, ChangeFeed.inserts(rows(40), lit(100L)), t, morOpts)
    Branch.create(spark, t, "aud")
    Branch.applyBatch(spark, t, "aud",
      ChangeFeed.updates(rows(40).filter($"k" === 3), Map("v" -> lit(9.0)), lit(200L)))
    val keys = Seq(3L, 7L, 3L).toDF("k")
    val (df, planJobs) = jobsDuring(Branch.pointLookup(spark, t, "aud", keys))
    // no job: the branch serves its own meta's schema (no inference) and
    // the bucket ids come from the collected keys (no distinct job)
    assert(planJobs == 0, s"no job while planning: $planJobs jobs")
    val (got, jobs) = jobsDuring(df.select($"k", $"v").as[(Long, Double)].collect())
    // the branch's staged value wins for k=3; k=7 serves main's row
    assert(got.toSeq.sorted == Seq((3L, 9.0), (7L, 14.0)), got.toSeq)
    assert(jobs == 1, s"the lookup's execution: $jobs jobs")
  }

  // ---- state-preserving publish: atomic theft refusal (ADVICE r13) -------

  test("optimize: staging stolen between stage and publish refuses in the swap loop") {
    val t = newTarget()
    val morOpts = CdcApplier.Options(Seq("k"), numBuckets = 4)
    CdcApplier.applyBatchMor(spark, ChangeFeed.inserts(rows(100), $"k" * 10), t, morOpts)
    // force a bin-packing plan: each delta batch appends files per bucket
    (1 to 5).foreach { i =>
      CdcApplier.applyBatchMor(spark, ChangeFeed.updates(rows(100).filter($"k" % 7 === i),
        Map("v" -> lit(i * 1.0)), lit(10000L + i)), t, morOpts)
    }
    val fs = fsOf(t)
    val ex = intercept[CdcApplier.GraftConcurrentWriteException] {
      CdcApplier.optimizeStaged(spark, t, 1L << 30, Seq.empty, () => {
        // the adversary: a second optimize's startup reclaim deletes every
        // sibling staging tree in the stage→publish window
        fs.listStatus(new Path(t).getParent)
          .filter(_.getPath.getName.startsWith(new Path(t).getName + ".optimize-"))
          .foreach(s => fs.delete(s.getPath, true))
      })
    }
    assert(ex.getMessage.contains("staged tree"),
      s"theft must refuse loudly: ${ex.getMessage}")
    // the live buckets survived — nothing was deleted as 'empty'
    val live = CdcApplier.snapshot(spark, t).count()
    assert(live == 100L, s"theft refusal must leave state intact, got $live rows")
  }

  // ---- commit-stamp retention floor (verdict #9) --------------------------

  test("timestamps older than the retained stamp window refuse, never answer late") {
    val t = newTarget()
    def at[T](ts: Long)(f: => T): T = {
      spark.conf.set("spark.graft.commit.clock.ms", ts.toString)
      try f finally spark.conf.unset("spark.graft.commit.clock.ms")
    }
    spark.conf.set("spark.graft.commit.stamps.kept", "3")
    try {
      (1 to 6).foreach { i =>
        at(i * 1000L)(CdcApplier.applyBatchMor(spark,
          ChangeFeed.updates(rows(10).filter($"k" === 1), Map("v" -> lit(i * 1.0)),
            lit(i * 100L)), t, CdcApplier.Options(Seq("k"), numBuckets = 4)))
      }
      // stamps 1..2 are GC'd (kept = 3 behind the head); a timestamp inside
      // the GC'd window must refuse — answering would resolve to a LATER
      // position than the truth at that wall-clock instant
      val ex = intercept[IllegalArgumentException] {
        CdcApplier.positionAsOfTimestamp(spark, t, 1500L)
      }
      assert(ex.getMessage.contains("predates"), ex.getMessage)
      // inside the retained window resolution is exact
      assert(CdcApplier.positionAsOfTimestamp(spark, t, 5500L) == 500L)
      // after the newest stamp: latest-wins (the documented Iceberg form)
      assert(CdcApplier.positionAsOfTimestamp(spark, t, 99999L) == 600L)
    } finally spark.conf.unset("spark.graft.commit.stamps.kept")
  }

  // ---- deletion vectors (q275): guard rails ------------------------------

  test("dv: refuses mor targets and non-delete batches") {
    val mor = newTarget()
    CdcApplier.applyBatchMor(spark, ChangeFeed.inserts(rows(10), lit(100L)), mor,
      CdcApplier.Options(Seq("k"), numBuckets = 4))
    intercept[IllegalStateException] {
      CdcApplier.applyBatchDv(spark,
        ChangeFeed.deletes(rows(10).filter($"k" === 1), lit(200L)), mor, opts)
    }
    val cow = newTarget()
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(rows(10), lit(100L)), cow, opts)
    intercept[IllegalArgumentException] {
      CdcApplier.applyBatchDv(spark,
        ChangeFeed.updates(rows(10).filter($"k" === 1), Map("v" -> lit(9.0)),
          lit(200L)), cow, opts)
    }
  }

  test("dv: every read surface masks — snapshot, connector V1+V2, range, agg refusal") {
    val t = newTarget()
    val data = spark.range(1, 101).select($"id".as("k"), ($"id" * 2.0).as("v"))
    val ropts = CdcApplier.Options(Seq("k"), rangeBounds = Some(Seq(34L, 67L)))
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(data, $"k" * 10), t, ropts)
    CdcApplier.applyBatchDv(spark,
      ChangeFeed.deletes(data.filter($"k" % 4 === 0), $"k" * 10 + 5), t, ropts)
    val live = (1L to 100L).filterNot(_ % 4 == 0).toSet
    assert(CdcApplier.snapshot(spark, t).select($"k").as[Long].collect().toSet == live)
    // a statically pruned connector read
    val v1 = spark.read.format("graft").load(t)
      .filter($"k" >= 30L && $"k" <= 40L).select($"k").as[Long].collect().toSet
    assert(v1 == (30L to 40L).filterNot(_ % 4 == 0).toSet, s"the pruned read must mask: $v1")
    // a full-coverage connector read (resolves reader-locally)
    val v2 = spark.read.format("graft").load(t)
      .select($"k").as[Long].collect().toSet
    assert(v2 == live, "the V2 batch leg must mask")
    // rangeLookup masks
    val rl = CdcApplier.rangeLookup(spark, t, 1L, 50L)
      .select($"k").as[Long].collect().toSet
    assert(rl == (1L to 50L).filterNot(_ % 4 == 0).toSet)
    // footer-only aggregation refuses while vectors are outstanding
    val cnt = spark.read.format("graft").load(t).agg(count(lit(1))).collect()(0).getLong(0)
    assert(cnt == live.size.toLong, "agg must refuse footers and count live rows")
  }

  // ---- sorted mor compaction (q276): claim transitions --------------------

  test("q276: vacuum and clustered optimize never leave a sorted claim on mor") {
    val t = newTarget()
    val morOpts = CdcApplier.Options(Seq("k"), numBuckets = 4)
    CdcApplier.applyBatchMor(spark, ChangeFeed.inserts(rows(50), lit(100L)), t, morOpts)
    CdcApplier.applyBatchMor(spark, ChangeFeed.updates(rows(50).filter($"k" % 3 === 0),
      Map("v" -> lit(1.0)), lit(200L)), t, morOpts)
    CdcApplier.compactMor(spark, t)
    assert(meta(t).sorted.contains(Seq("k")), "compactMor records the claim")
    // vacuum keeps multi-version state in-window: the claim must clear
    CdcApplier.applyBatchMor(spark, ChangeFeed.updates(rows(50).filter($"k" % 5 === 0),
      Map("v" -> lit(2.0)), lit(300L)), t, morOpts)
    assert(meta(t).sorted.isEmpty, "a delta clears the claim")
    CdcApplier.compactMor(spark, t)
    CdcApplier.applyBatchMor(spark, ChangeFeed.updates(rows(50).filter($"k" % 7 === 0),
      Map("v" -> lit(3.0)), lit(400L)), t, morOpts)
    CdcApplier.vacuumMor(spark, t, 400L)
    assert(meta(t).sorted.isEmpty, "vacuum retains versions — no claim")
    // a clustered optimize on mor carries the version chain verbatim: it
    // must not claim either
    CdcApplier.optimize(spark, t, 1L << 20, clusterBy = Seq("v"))
    assert(meta(t).sorted.isEmpty, "clusterBy on mor must not claim order")
    // and the state is intact throughout
    val got = CdcApplier.snapshot(spark, t)
      .select($"k", $"v").as[(Long, Double)].collect().toMap
    assert(got(7L) == 3.0 && got(5L) == 2.0 && got(3L) == 1.0 && got(1L) == 2.0)
  }

  // ---- branch SQL reads (q277): bucket pruning on both sides --------------

  test("q277: a point-predicate branch read prunes buckets on main AND branch") {
    val t = newTarget()
    val morOpts = CdcApplier.Options(Seq("k"), numBuckets = 4)
    CdcApplier.applyBatchMor(spark, ChangeFeed.inserts(rows(40), lit(100L)), t, morOpts)
    Branch.create(spark, t, "aud")
    Branch.applyBatch(spark, t, "aud",
      ChangeFeed.updates(rows(40).filter($"k" === 3), Map("v" -> lit(9.0)), lit(200L)))
    val schema = graft.sources.GraftTable.tableSchema(spark, t)
    val builder = new graft.sources.GraftScanBuilder(spark, t, schema,
      branch = Some("aud"))
    builder.pushFilters(Array(org.apache.spark.sql.sources.EqualTo("k", 3L)))
    val scan = builder.build().asInstanceOf[graft.sources.GraftBatchScan]
    scan.planInputPartitions()
    // one partition: the key's bucket, holding BOTH sides' files for it
    val bucket = CdcApplier.bucketIdsOf(spark, Seq(Seq(lit(3L))), 4, None)
    assert(scan.lastPlannedBuckets == bucket && scan.allBuckets.size == 4,
      s"main and branch must prune to the key's bucket: ${scan.lastPlannedBuckets}")
    def filesIn(dir: String) = fsOf(dir).listStatus(
      new Path(s"$dir/${CdcApplier.BUCKET}=${bucket.head}"))
      .count(_.getPath.getName.endsWith(".parquet"))
    val sideFiles = filesIn(t) + filesIn(Branch.branchDir(t, "aud"))
    assert(filesIn(Branch.branchDir(t, "aud")) > 0 &&
        scan.lastPlannedFiles._2 == sideFiles,
      s"the partition reads exactly both sides' files of that bucket: " +
        s"${scan.lastPlannedFiles} vs $sideFiles")
    // and the pruned read answers the branch lineage, through SQL too
    val df = spark.read.format("graft").option("branch", "aud").load(t)
      .filter($"k" === 3L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GraftBatchScan") && plan.contains("buckets=1/4"), plan)
    val row = df.select($"v").as[Double].collect()
    assert(row.toSeq == Seq(9.0), s"branch read must serve the staged value: ${row.toSeq}")
  }

  // ---- analyze / CBO stats (q278): persistence + honesty ------------------

  test("q278: analyze persists exact stats; pruned/history reads keep bytes") {
    val t = newTarget()
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(
      spark.range(1, 201).select($"id".as("k"), ($"id" * 2.0).as("v")),
      $"k" * 10), t, opts)
    val ts = ColumnStats.analyze(spark, t)
    assert(ts.rows == 200L)
    assert(ts.cols("k").ndv == 200L && ts.cols("k").nulls == 0L)
    assert(ts.cols("k").mn.contains("1") && ts.cols("k").mx.contains("200"))
    assert(ts.cols("v").kind == 'd')
    val reread = ColumnStats.read(spark, t).get
    assert(reread == ts, "the persisted stats round-trip")
    // the V2 column-stats map serves the schema's columns
    val v2 = ColumnStats.v2ColumnStats(spark, t,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))))
    assert(v2.size == 1)
    val st = v2.values.iterator.next()
    assert(st.distinctCount.getAsLong == 200L && st.min.get == 1L && st.max.get == 200L)
    // a PRUNED read must not claim table-level rows (stats describe the table)
    val schema = graft.sources.GraftTable.tableSchema(spark, t)
    val b = new graft.sources.GraftScanBuilder(spark, t, schema)
    b.pushFilters(Array(org.apache.spark.sql.sources.EqualTo("k", 3L)))
    val scan = b.build().asInstanceOf[graft.sources.GraftBatchScan]
    val pruned = scan.estimateStatistics()
    assert(!pruned.numRows().isPresent,
      "a bucket-pruned read keeps byte-based statistics")
    assert(pruned.sizeInBytes().getAsLong > 0 &&
      pruned.sizeInBytes().getAsLong < fsOf(t).getContentSummary(new Path(t)).getLength,
      "a pruned read reports only its covered buckets' bytes")
    // the whole-table read serves the ANALYZEd row count
    val whole = new graft.sources.GraftScanBuilder(spark, t, schema).build()
      .asInstanceOf[graft.sources.GraftBatchScan]
    assert(whole.estimateStatistics().numRows().getAsLong == 200L)
  }

  // ---- covered routing (q282): the POS exclusion ---------------------------

  test("q282: _graft_pos is never covered — the route serves STORE positions") {
    val base = Files.createTempDirectory("graft_r14").toString
    val store = base + "/store"
    val index = base + "/index"
    val data = spark.range(1, 41).select($"id".as("k"), ($"id" % 7).as("v"))
    // store positions k*100; index positions k*100+1 — DIFFERENT on purpose
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(data, $"k" * 100), store, opts)
    CdcApplier.applyBatch(spark,
      ChangeFeed.inserts(data.select($"v", $"k"), $"k" * 100 + 1), index,
      CdcApplier.Options(Seq("v", "k"), bucketCols = Some(Seq("v")), numBuckets = 4))
    import graft.plans.GraftIndexRoute
    GraftIndexRoute.install(spark)
    GraftIndexRoute.register(store, "v", index)
    try {
      val f0 = GraftIndexRoute.fired
      // (k, v) alone IS covered by the index; adding _graft_pos must force
      // the two-hop route — index positions are not store positions
      val got = CdcApplier.snapshot(spark, store)
        .filter($"v" === 3L).select($"k", $"v", col(CdcApplier.POS))
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      assert(GraftIndexRoute.fired > f0, "the projection still routes")
      assert(got.nonEmpty && got.forall { case (k, p) => p == k * 100 },
        s"served positions must be the STORE's, never the index's: $got")
    } finally GraftIndexRoute.unregister(store, "v")
  }

  // ---- zorder bounds (q279): arity + low-NDV collapse ----------------------

  test("q279: derived bounds collapse on a low-NDV column and stay in arity") {
    val t = newTarget()
    // k unique, w only 3 distinct values — its quantile bounds collapse
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(
      spark.range(1, 301).select($"id".as("k"), ($"id" % 3).as("w")),
      $"k" * 10), t, CdcApplier.Options(Seq("k"), numBuckets = 2))
    val (bounds, touched) = CdcApplier.zorderAuto(spark, t, Seq("k", "w"),
      targetFileBytes = 4096L)
    assert(touched.nonEmpty)
    assert(bounds(0).size == 15, s"unique column keeps all 15: ${bounds(0)}")
    assert(bounds(1).size <= 3 && bounds(1).nonEmpty,
      s"a 3-value column collapses its bounds: ${bounds(1)}")
    assert(bounds.forall(b => b == b.sorted && b.distinct == b))
    // state identity through the rewrite
    assert(CdcApplier.snapshot(spark, t).count() == 300L)
  }
}
