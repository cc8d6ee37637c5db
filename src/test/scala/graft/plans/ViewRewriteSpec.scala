package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{CdcApplier, ChangeFeed}

/** The materialized-view rewrite rule: fires on the exact registered
  * shape, refuses every near-miss (eagerness = wrong results). */
class ViewRewriteSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  private val base = {
    val dir = Files.createTempDirectory("graft_mv").toString + "/base.parquet"
    spark.range(1, 101).select(
      $"id".as("k"), concat(lit("g"), $"id" % 3).as("grp"),
      ($"id" * 2.0).as("x"))
      .write.parquet(dir)
    dir
  }

  private def buildView(): String = {
    val viewDir = Files.createTempDirectory("graft_mv").toString + "/v"
    val rows = spark.read.parquet(base)
      .groupBy($"grp").agg(count(lit(1)).as("cnt"))
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(rows, lit(1L)), viewDir,
      CdcApplier.Options(Seq("grp"), numBuckets = 2))
    viewDir
  }

  /** The optimized plan reads the connector's scan of the view store. */
  private def readsView(df: DataFrame, viewDir: String): Boolean =
    graft.sources.GraftBatchScan.readsOf(df.queryExecution.optimizedPlan)
      .exists(_._1 == new org.apache.hadoop.fs.Path(viewDir).toUri.getPath)

  private def agg(): DataFrame =
    spark.read.parquet(base).groupBy($"grp").agg(count(lit(1)).as("cnt"))

  test("registered count(*) aggregate rewrites to the view scan; results equal") {
    val viewDir = buildView()
    GraftViewRewrite.install(spark)
    GraftViewRewrite.register(base, "grp", viewDir)
    try {
      val q = agg()
      // fired = the Aggregate is GONE, replaced by the view store's scan
      val opt = q.queryExecution.optimizedPlan.toString
      assert(!opt.contains("Aggregate ["), "still aggregating the base: " + opt)
      assert(readsView(q, viewDir), "not reading the view store: " + opt)
      val got = q.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(got == Map("g0" -> 33L, "g1" -> 34L, "g2" -> 33L))
    } finally GraftViewRewrite.unregister(base, "grp")
  }

  test("near-misses pass through: filter present, different group, other agg, unregistered") {
    val viewDir = buildView()
    GraftViewRewrite.install(spark)
    GraftViewRewrite.register(base, "grp", viewDir)
    try {
      // a FILTERED aggregate is not the view's content — must not rewrite
      def stillAggregates(df: DataFrame): Boolean =
        df.queryExecution.optimizedPlan.toString.contains("Aggregate [")
      val filtered = spark.read.parquet(base).filter($"k" > 50)
        .groupBy($"grp").agg(count(lit(1)).as("cnt"))
      assert(stillAggregates(filtered), "filtered aggregate must not rewrite")
      assert(filtered.collect().map(_.getLong(1)).sum == 50L)

      // different grouping column
      val otherG = spark.read.parquet(base).groupBy($"k").agg(count(lit(1)).as("cnt"))
      assert(stillAggregates(otherG), "different group must not rewrite")

      // a non-count aggregate
      val sumAgg = spark.read.parquet(base).groupBy($"grp").agg(sum($"x").as("cnt"))
      assert(stillAggregates(sumAgg), "sum aggregate must not rewrite")
    } finally GraftViewRewrite.unregister(base, "grp")
    // unregistered: back to the base scan
    assert(agg().queryExecution.optimizedPlan.toString.contains("Aggregate ["))
  }

  private def buildStatsView(): String = {
    val viewDir = Files.createTempDirectory("graft_mv").toString + "/sv"
    val rows = graft.cdc.IncrementalView.maintainMinMax(
      Seq(ChangeFeed.inserts(spark.read.parquet(base), lit(1L))),
      spark.read.parquet(base), "grp", "x")
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(rows, lit(1L)), viewDir,
      CdcApplier.Options(Seq("grp"), numBuckets = 2))
    viewDir
  }

  test("stats view serves any COUNT/SUM/MIN/MAX/AVG combination; results equal") {
    val viewDir = buildStatsView()
    GraftViewRewrite.install(spark)
    GraftViewRewrite.registerStats(base, "grp", "x", viewDir)
    try {
      val q = spark.read.parquet(base).groupBy($"grp")
        .agg(sum($"x").as("s"), max($"x").as("mx"), count(lit(1)).as("c"))
      val opt = q.queryExecution.optimizedPlan.toString
      assert(!opt.contains("Aggregate ["), "still aggregating the base: " + opt)
      assert(readsView(q, viewDir), "not reading the view store: " + opt)
      val got = q.collect()
        .map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2), r.getLong(3))))
        .toMap
      // grp g1 = ids {1,4,...,100} step 3 -> 34 ids; x = 2*id
      assert(got("g1")._3 == 34L && got("g1")._2 == 200.0, got.toString)
      val fresh = spark.read.parquet(base).groupBy($"grp")
        .agg(sum($"x"), max($"x"), count(lit(1))).collect()
        .map(r => (r.getString(0), (r.getDouble(1), r.getDouble(2), r.getLong(3))))
        .toMap
      assert(got == fresh, s"rewritten != fresh: $got vs $fresh")
    } finally GraftViewRewrite.unregisterStats(base, "grp", "x")
  }

  test("stats near-misses pass through: distinct, wrong value column, expression arg") {
    val viewDir = buildStatsView()
    GraftViewRewrite.install(spark)
    GraftViewRewrite.registerStats(base, "grp", "x", viewDir)
    try {
      def stillAggregates(df: DataFrame): Boolean =
        df.queryExecution.optimizedPlan.toString.contains("Aggregate [")
      assert(stillAggregates(spark.read.parquet(base).groupBy($"grp")
        .agg(sum_distinct($"x").as("s"))), "DISTINCT must not rewrite")
      assert(stillAggregates(spark.read.parquet(base).groupBy($"grp")
        .agg(sum($"k".cast("double")).as("s"))), "unregistered column must not rewrite")
      assert(stillAggregates(spark.read.parquet(base).groupBy($"grp")
        .agg(sum($"x" * 2).as("s"))), "expression argument must not rewrite")
    } finally GraftViewRewrite.unregisterStats(base, "grp", "x")
  }

  // finer base for the group-subset tests: (k, grp, sub, x)
  private val base2 = {
    val dir = Files.createTempDirectory("graft_mv").toString + "/base2.parquet"
    spark.range(1, 101).select(
      $"id".as("k"), concat(lit("g"), $"id" % 3).as("grp"),
      concat(lit("s"), $"id" % 2).as("sub"), ($"id" * 2.0).as("x"))
      .write.parquet(dir)
    dir
  }

  private def buildFineStatsView(): String = {
    val viewDir = Files.createTempDirectory("graft_mv").toString + "/fsv"
    val rows = graft.cdc.IncrementalView.maintainMinMax(
      Seq(ChangeFeed.inserts(spark.read.parquet(base2), lit(1L))),
      spark.read.parquet(base2), Seq("grp", "sub"), "x")
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(rows, lit(1L)), viewDir,
      CdcApplier.Options(Seq("grp", "sub"), numBuckets = 2))
    viewDir
  }

  test("group subset: a coarser query re-aggregates the finer view; base never scans") {
    val viewDir = buildFineStatsView()
    GraftViewRewrite.install(spark)
    GraftViewRewrite.registerStats(base2, Seq("grp", "sub"), "x", viewDir)
    try {
      val q = spark.read.parquet(base2).groupBy($"grp")
        .agg(count(lit(1)).as("c"), sum($"x").as("s"),
          min($"x").as("mn"), max($"x").as("mx"), avg($"x").as("av"))
      val opt = q.queryExecution.optimizedPlan.toString
      assert(readsView(q, viewDir),
        "not reading the view store (base still scans): " + opt)
      val got = q.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
      val fresh = spark.read.parquet(base2).groupBy($"grp")
        .agg(count(lit(1)), sum($"x"), min($"x"), max($"x"), avg($"x"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
      assert(got.keySet == fresh.keySet)
      fresh.foreach { case (g, (c, s, mn, mx, av)) =>
        val (gc, gs, gmn, gmx, gav) = got(g)
        assert(gc == c && gmn == mn && gmx == mx, s"$g: $got vs $fresh")
        // the view serves the DECIMAL-exact sum; the base plan's double
        // sum is order-dependent — equality up to accumulation order
        assert(math.abs(gs - s) <= math.ulp(s) * 64, s"$g sum: $gs vs $s")
        assert(math.abs(gav - av) <= math.ulp(av) * 64, s"$g avg: $gav vs $av")
      }
      // the EXACT grouping still serves as a pure projection
      val exact = spark.read.parquet(base2).groupBy($"grp", $"sub")
        .agg(count(lit(1)).as("c"))
      // (needs a view registered under the exact key to fire the
      // projection path — the subset lookup covers it here: same view)
      val exactOpt = exact.queryExecution.optimizedPlan.toString
      assert(readsView(exact, viewDir) && !exactOpt.contains("Aggregate ["),
        "exact grouping must serve as a pure projection: " + exactOpt)
      assert(exact.collect().map(_.getLong(2)).sum == 100L)
      // NOT a subset (different column) passes through
      val other = spark.read.parquet(base2).groupBy($"k")
        .agg(sum($"x").as("s"))
      val otherOpt = other.queryExecution.optimizedPlan.toString
      assert(otherOpt.contains("Aggregate [") && !readsView(other, viewDir),
        "a non-subset grouping must not rewrite: " + otherOpt)
    } finally GraftViewRewrite.unregisterStats(base2, Seq("grp", "sub"), "x")
  }

  test("group subset: a fine group's NULL mn/mx sentinel propagates to the rollup") {
    // maintainMinMax surfaces an inconsistent feed as NULL mn/mx; the
    // coarser re-aggregation must serve NULL for any group containing such
    // a fine group — a bare Min/Max would skip the NULL and serve a
    // confident extreme the finer view deliberately refused.
    val viewDir = buildFineStatsView()
    // poison ONE fine group's extremes to the sentinel (an update through
    // the applier, exactly how a maintenance pass would store it)
    val poisoned = CdcApplier.snapshot(spark, viewDir)
      .where($"grp" === "g0" && $"sub" === "s0")
      .select($"grp", $"sub", $"cnt", $"sum",
        lit(null).cast("double").as("mn"), lit(null).cast("double").as("mx"),
        $"avg")
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(poisoned, lit(2L)), viewDir,
      CdcApplier.Options(Seq("grp", "sub"), numBuckets = 2))
    GraftViewRewrite.install(spark)
    GraftViewRewrite.registerStats(base2, Seq("grp", "sub"), "x", viewDir)
    try {
      val q = spark.read.parquet(base2).groupBy($"grp")
        .agg(min($"x").as("mn"), max($"x").as("mx"), count(lit(1)).as("c"))
      assert(readsView(q, viewDir),
        "must serve from the view store")
      val got = q.collect().map(r =>
        r.getString(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
      assert(got("g0") == (None, None), s"sentinel must propagate: $got")
      assert(got("g1")._1.isDefined && got("g2")._2.isDefined,
        s"healthy groups still serve extremes: $got")
    } finally GraftViewRewrite.unregisterStats(base2, Seq("grp", "sub"), "x")
  }

  // join fixture: fact (fk, jc, amt) ⋈ dim (dk, dname) on jc = dk
  private val factBase = {
    val dir = Files.createTempDirectory("graft_mv").toString + "/fact.parquet"
    spark.range(1, 101).select(
      $"id".as("fk"), ($"id" % 10).as("jc"), ($"id" * 3.0).as("amt"))
      .write.parquet(dir)
    dir
  }
  private val dimBase = {
    val dir = Files.createTempDirectory("graft_mv").toString + "/dim.parquet"
    spark.range(0, 10).select($"id".as("dk"), concat(lit("d"), $"id").as("dname"))
      .write.parquet(dir)
    dir
  }

  private def buildJoinView(): String = {
    val root = Files.createTempDirectory("graft_mv").toString
    val (fact, dimT, view) = (root + "/f", root + "/d", root + "/jv")
    CdcApplier.applyBatch(spark,
      ChangeFeed.inserts(spark.read.parquet(factBase), $"fk" * 10), fact,
      CdcApplier.Options(Seq("fk"), numBuckets = 2))
    CdcApplier.applyBatch(spark,
      ChangeFeed.inserts(spark.read.parquet(dimBase), $"dk" * 10), dimT,
      CdcApplier.Options(Seq("dk"), numBuckets = 2))
    graft.cdc.IncrementalView.maintainJoinView(spark, fact, dimT, view, 1000L,
      spark.read.parquet(factBase).select($"fk"),
      spark.read.parquet(dimBase).select($"dk"), "fk", "jc", "dk")
    view
  }

  test("join rewrite: registered fact⋈dim serves from the join-view store") {
    val viewDir = buildJoinView()
    GraftViewRewrite.install(spark)
    GraftViewRewrite.registerJoin(factBase, dimBase, "jc", "dk", viewDir)
    try {
      val q = spark.read.parquet(factBase)
        .join(spark.read.parquet(dimBase), $"jc" === $"dk")
      val opt = q.queryExecution.optimizedPlan.toString
      assert(!opt.contains("Join "), "join must disappear: " + opt)
      assert(readsView(q, viewDir), "not reading the view store: " + opt)
      val got = q.select($"fk", $"jc", $"amt", $"dk", $"dname")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getString(4))).toSet
      val fresh = spark.read.parquet(factBase)
        .join(spark.read.parquet(dimBase), $"jc" === $"dk")
        .select($"fk", $"jc", $"amt", $"dk", $"dname")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getString(4))).toSet
      assert(got == fresh && got.size == 100)
      // aggregates above the rewritten join keep resolving
      val agg = spark.read.parquet(factBase)
        .join(spark.read.parquet(dimBase), $"jc" === $"dk")
        .groupBy($"dname").agg(count(lit(1)).as("c"))
      assert(!agg.queryExecution.optimizedPlan.toString.contains("Join "))
      assert(agg.collect().map(_.getLong(1)).sum == 100L)
    } finally GraftViewRewrite.unregisterJoin(factBase, dimBase)
  }

  test("join near-misses pass through: outer join, extra predicate, reversed, unregistered") {
    val viewDir = buildJoinView()
    GraftViewRewrite.install(spark)
    GraftViewRewrite.registerJoin(factBase, dimBase, "jc", "dk", viewDir)
    try {
      def stillJoins(df: DataFrame): Boolean =
        df.queryExecution.optimizedPlan.toString.contains("Join ")
      val f = spark.read.parquet(factBase)
      val d = spark.read.parquet(dimBase)
      assert(stillJoins(f.join(d, $"jc" === $"dk", "left")),
        "outer join must not rewrite (null-extension is not the view's content)")
      assert(stillJoins(f.join(d, $"jc" === $"dk" && $"amt" > 30.0)),
        "extra join predicate must not rewrite")
      assert(stillJoins(d.join(f, $"dk" === $"jc")),
        "reversed side registration must not rewrite")
      assert(stillJoins(f.join(d, $"fk" === $"dk")),
        "a different key pair must not rewrite")
    } finally GraftViewRewrite.unregisterJoin(factBase, dimBase)
    assert(spark.read.parquet(factBase)
      .join(spark.read.parquet(dimBase), $"jc" === $"dk")
      .queryExecution.optimizedPlan.toString.contains("Join "),
      "unregistered must not rewrite")
  }

  test("parents above the aggregate keep resolving (ExprId re-bind)") {
    val viewDir = buildView()
    GraftViewRewrite.install(spark)
    GraftViewRewrite.register(base, "grp", viewDir)
    try {
      val q = agg().filter($"cnt" > 33).orderBy($"grp".desc).limit(1)
      assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("g1", 34L)))
    } finally GraftViewRewrite.unregister(base, "grp")
  }
}
