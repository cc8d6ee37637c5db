package graft.cdc

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one read: every Scala read entry point is the connector's scan plus
  * a predicate, resolving latest-per-key inside each bucket's reader
  * exactly on version-bearing layouts, and the branch lineage feeds
  * fast-forward's index maintenance. */
class LiveReadSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  private def newTarget(): String =
    Files.createTempDirectory("graft_live").toString + "/t"

  private def rows(n: Int): DataFrame =
    spark.range(1, n + 1).select($"id".as("k"), ($"id" % 7).as("v"))

  /** Execute `df` and return the keys it served and its one scan: the
    * executed plan holds exactly one `GraftBatchScan` leaf, no file scan,
    * no window and no exchange. */
  private def served(df: DataFrame, what: String): (Set[Long], BatchScanExec) = {
    val got = df.collect().map(_.getAs[Long]("k")).toSet
    val plan = df.queryExecution.executedPlan
    val scans = collect(plan) { case b: BatchScanExec => b }
    assert(scans.size == 1 && scans.head.scan.isInstanceOf[graft.sources.GraftBatchScan],
      s"$what: $plan")
    assert(collect(plan) { case f: FileSourceScanExec => f }.isEmpty, s"$what: $plan")
    assert(collect(plan) { case w: WindowExec => w }.isEmpty, s"$what: $plan")
    assert(collect(plan) { case e: Exchange => e }.isEmpty, s"$what: $plan")
    (got, scans.head)
  }

  private def resolves(scan: BatchScanExec): Boolean =
    scan.readerFactory.asInstanceOf[graft.sources.GraftResolvingReaderFactory].resolve

  test("the resolve runs on mor and deletion-vector layouts only, on every read path") {
    val opts = CdcApplier.Options(Seq("k"), rangeBounds = Some(Seq(10L, 20L, 30L)))
    val cow = newTarget()
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(rows(40), $"k" * 10), cow, opts)
    val mor = newTarget()
    CdcApplier.applyBatchMor(spark, ChangeFeed.inserts(rows(40), $"k" * 10), mor, opts)
    val dv = newTarget()
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(rows(40), $"k" * 10), dv, opts)
    CdcApplier.applyBatchDv(spark,
      ChangeFeed.deletes(rows(40).filter($"k" === 15L), lit(1000L)), dv, opts)

    // the Scala read API: one connector scan per read, resolving inside
    // each bucket's reader exactly on mor and dv; the lookups read a strict
    // bucket subset; the dv-masked key is absent on every path
    def reads(t: String): Seq[(String, DataFrame, Option[String])] = Seq(
      ("snapshot", CdcApplier.snapshot(spark, t), None),
      ("pointLookup", CdcApplier.pointLookup(spark, t, Seq(3L, 15L).toDF("k")),
        Some("buckets=2/4")),
      ("rangeLookup", CdcApplier.rangeLookup(spark, t, 2L, 25L), Some("buckets=3/4")))
    for ((layout, t) <- Seq("cow" -> cow, "mor" -> mor, "dv" -> dv);
         (name, df, pruned) <- reads(t)) {
      val (got, scan) = served(df, s"$layout $name")
      assert(resolves(scan) == (layout != "cow"), s"$layout $name resolves per bucket")
      pruned.foreach(b => assert(scan.toString.contains(b), s"$layout $name: $scan"))
      assert(got.contains(3L) && got.contains(15L) == (layout != "dv"), s"$layout $name: $got")
    }
    // the history reads resolve too: as-of and the branch lineage
    val (asOf, asOfScan) = served(CdcApplier.snapshotAsOf(spark, mor, 400L), "snapshotAsOf")
    assert(resolves(asOfScan) && asOf == (1L to 40L).toSet, asOf.toString)
    Branch.create(spark, mor, "b")
    Branch.applyBatch(spark, mor, "b",
      ChangeFeed.deletes(rows(40).filter($"k" === 3L), lit(900L)))
    val (branch, branchScan) = served(Branch.snapshot(spark, mor, "b"), "Branch.snapshot")
    assert(resolves(branchScan) && branch == (1L to 40L).toSet - 3L, branch.toString)
    val (probe, probeScan) = served(
      Branch.pointLookup(spark, mor, "b", Seq(3L, 15L).toDF("k")), "Branch.pointLookup")
    assert(resolves(probeScan) && probe == Set(15L), probe.toString)
    assert(probeScan.toString.contains("buckets=2/4"), probeScan.toString)

    // the connector's pruned read resolves inside each bucket's reader: no
    // window and no exchange on any layout, the resolve on mor and dv only
    def connector(t: String): DataFrame =
      spark.read.format("graft").load(t).filter($"k".isin(3L, 15L))
    for ((layout, t) <- Seq("cow" -> cow, "mor" -> mor, "dv" -> dv)) {
      val df = connector(t)
      val got = df.select($"k").as[Long].collect().toSet
      val plan = df.queryExecution.executedPlan
      assert(collect(plan) { case w: WindowExec => w }.isEmpty, s"$layout: $plan")
      assert(collect(plan) { case e: Exchange => e }.isEmpty, s"$layout: $plan")
      val factories = collect(plan) { case b: BatchScanExec => b.readerFactory }
      assert(factories.size == 1, s"$layout: $plan")
      val resolves = factories.head
        .asInstanceOf[graft.sources.GraftResolvingReaderFactory].resolve
      assert(resolves == (layout != "cow"), s"$layout resolves per bucket: $resolves")
      assert(plan.toString.contains("buckets=2/4"), s"$layout: $plan")
      // the dv-masked key is absent; the mor/cow key is served
      assert(got == (if (layout == "dv") Set(3L) else Set(3L, 15L)), s"$layout: $got")
    }
  }

  test("fast-forward maintains the store's index from the branch lineage") {
    val store = newTarget()
    val opts = CdcApplier.Options(Seq("k"), numBuckets = 4)
    CdcApplier.applyBatchMor(spark, ChangeFeed.inserts(rows(20), $"k" * 10), store, opts)
    Branch.create(spark, store, "wip")
    val born = spark.range(100, 102).select($"id".as("k"), ($"id" % 7).as("v"))
    Branch.applyBatch(spark, store, "wip",
      ChangeFeed.updates(rows(20).filter($"k" === 3L), Map("v" -> lit(99L)), lit(500L))
        .union(ChangeFeed.deletes(rows(20).filter($"k" === 4L), lit(500L)))
        .union(ChangeFeed.inserts(born, lit(500L))))
    // born and retired on the branch: nothing to retire in the index
    Branch.applyBatch(spark, store, "wip",
      ChangeFeed.deletes(born.filter($"k" === 101L), lit(600L)))
    import graft.plans.GraftIndexRoute
    try {
      assert(IndexLifecycle.createIndex(spark, store, "v").state == "live")
      Branch.fastForward(spark, store, "wip")
      val expect = CdcApplier.snapshot(spark, store)
        .select($"v", $"k").collect().map(_.toString).sorted.toSeq
      val got = CdcApplier.snapshot(spark, IndexLifecycle.indexDir(store, "v"))
        .select($"v", $"k").collect().map(_.toString).sorted.toSeq
      assert(got == expect)
      assert(got.contains("[99,3]") && got.contains("[2,100]"))
      assert(!got.exists(r => r.endsWith(",4]") || r.endsWith(",101]")))
    } finally GraftIndexRoute.unregister(store, "v")
  }
}
