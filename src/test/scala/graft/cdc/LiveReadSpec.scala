package graft.cdc

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one live read ([[CdcApplier.liveRead]] / [[Branch.lineage]]): the
  * latest-per-key resolve engages exactly on version-bearing layouts, on
  * every serving path, and the branch lineage feeds fast-forward's index
  * maintenance. */
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

  private def windowed(df: DataFrame): Boolean = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case w: WindowExec => w }.nonEmpty
  }

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

    def reads(t: String): Seq[(String, DataFrame)] = {
      val schema = graft.sources.GraftTable.tableSchema(spark, t)
      val builder = new graft.sources.GraftScanBuilder(spark, t, schema)
      builder.pushFilters(Array(org.apache.spark.sql.sources.EqualTo("k", 3L)))
      val v1 = builder.build() match {
        case s: graft.sources.GraftScan => s.innerDf
        case other => fail(s"a bucket-pruned read must take the V1 leg, got $other")
      }
      Seq(
        "snapshot" -> CdcApplier.snapshot(spark, t),
        "pointLookup" -> CdcApplier.pointLookup(spark, t, Seq(3L, 15L).toDF("k")),
        "rangeLookup" -> CdcApplier.rangeLookup(spark, t, 5L, 25L),
        "V1 connector" -> v1)
    }
    for ((name, df) <- reads(cow))
      assert(!windowed(df), s"plain copy-on-write $name must not resolve")
    for ((layout, t) <- Seq("mor" -> mor, "dv" -> dv); (name, df) <- reads(t))
      assert(windowed(df), s"$layout $name must resolve latest-per-key")
    // and the resolve masks the deleted key on every dv path
    for ((name, df) <- reads(dv))
      assert(df.filter($"k" === 15L).isEmpty, s"dv $name serves a masked row")
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
