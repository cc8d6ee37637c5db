package graft.plans

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{CdcApplier, ChangeFeed}
import graft.sources.GraftBatchScan

/** The optimizer rules splice the connector's one scan: an index route
  * over a merge-on-read store and index, and a view rewrite over a
  * merge-on-read view store, execute as `GraftBatchScan`s only — no file
  * scan, no window resolve — with the store side pruned to the columns it
  * uses and to the routed keys' buckets at run time. */
class SplicedScanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  private def pathOf(dir: String): String = new Path(dir).toUri.getPath

  /** Executes `df`; every scan it ran, adaptive stages and subqueries
    * included, is a `GraftBatchScan`, and nothing resolves in a window. */
  private def batchScansOnly(df: DataFrame, what: String): Seq[(String, GraftBatchScan)] = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    val batch = collectWithSubqueries(plan) { case b: BatchScanExec => b }
    assert(batch.nonEmpty && batch.forall(_.scan.isInstanceOf[GraftBatchScan]), s"$what: $plan")
    assert(collectWithSubqueries(plan) { case f: FileSourceScanExec => f }.isEmpty, s"$what: $plan")
    assert(collectWithSubqueries(plan) { case w: WindowExec => w }.isEmpty, s"$what: $plan")
    GraftBatchScan.readsOf(df.queryExecution.optimizedPlan)
  }

  test("a routed mor point query and a mor view rewrite read only GraftBatchScans") {
    val root = Files.createTempDirectory("graft_splice").toString
    val (store, index) = (s"$root/store", s"$root/index")
    val data = spark.range(1, 201).select($"id".as("k"), ($"id" % 50).as("v"),
      ($"id" + 0.5).as("w"), concat(lit("x"), $"id").as("x"))
    val storeOpts = CdcApplier.Options(Seq("k"), numBuckets = 16)
    val indexOpts = CdcApplier.Options(Seq("v", "k"), bucketCols = Some(Seq("v")), numBuckets = 4)
    CdcApplier.applyBatchMor(spark, ChangeFeed.inserts(data, $"k" * 10), store, storeOpts)
    CdcApplier.applyBatchMor(spark, ChangeFeed.inserts(data.select($"v", $"k"), $"k" * 10),
      index, indexOpts)
    // a second delta, so both sides hold versions the reader must resolve
    val moved = data.filter($"k" % 10 === 3)
    CdcApplier.applyBatchMor(spark,
      ChangeFeed.updates(moved, Map("w" -> ($"w" * 2)), $"k" * 10 + 5), store, storeOpts)

    GraftIndexRoute.install(spark)
    GraftIndexRoute.register(store, "v", index)
    try {
      val (f0, d0) = (GraftIndexRoute.fired, GraftIndexRoute.declined)
      val q = CdcApplier.snapshot(spark, store).filter($"v".isin(3L, 7L)).select($"k", $"v", $"w")
      val reads = batchScansOnly(q, "routed point query")
      assert(GraftIndexRoute.fired == f0 + 1 && GraftIndexRoute.declined == d0,
        "one fired tick, and the rule never consults the store scan it spliced in")
      assert(reads.map(_._1).toSet == Set(pathOf(store), pathOf(index)), reads.toString)
      val storeScan = reads.collectFirst { case (d, s) if d == pathOf(store) => s }.get
      assert(storeScan.readSchema().fieldNames.toSet == Set("k", "v", "w"),
        s"the store reads only the projected, filtered and PK columns: ${storeScan.readSchema()}")
      val keys = q.collect().map(_.getLong(0)).toSeq
      assert(keys.sorted == (1L to 200L).filter(k => k % 50 == 3 || k % 50 == 7))
      val k = CdcApplier.bucketIdsOf(spark, keys.map(x => Seq(lit(x))), 16, None).distinct.size
      assert(storeScan.runtimeFiltered && storeScan.lastPlannedBuckets.size == k && k < 16,
        s"the store scan must prune to the routed keys' buckets at run time: " +
          storeScan.description())
      assert(storeScan.description().contains(s"buckets=$k/16"), storeScan.description())
      assert(q.collect().map(r => r.getDouble(2)).sum ==
        keys.map(x => if (x % 10 == 3) (x + 0.5) * 2 else x + 0.5).sum,
        "the routed read serves each key's latest version")
    } finally GraftIndexRoute.unregister(store, "v")

    val base = s"$root/base.parquet"
    data.select($"k", ($"k" % 3).as("g")).write.parquet(base)
    val view = s"$root/view"
    val viewOpts = CdcApplier.Options(Seq("g"), numBuckets = 2)
    val counts = spark.read.parquet(base).groupBy($"g").agg(count(lit(1)).as("cnt"))
    CdcApplier.applyBatchMor(spark, ChangeFeed.inserts(counts, lit(1L)), view, viewOpts)
    CdcApplier.applyBatchMor(spark, ChangeFeed.inserts(counts, lit(2L)), view, viewOpts)
    GraftViewRewrite.install(spark)
    GraftViewRewrite.register(base, "g", view)
    try {
      val agg = spark.read.parquet(base).groupBy($"g").agg(count(lit(1)).as("cnt"))
      val reads = batchScansOnly(agg, "view rewrite")
      assert(reads.map(_._1) == Seq(pathOf(view)), reads.toString)
      assert(reads.head._2.readSchema().fieldNames.toSeq == Seq("g", "cnt"))
      assert(agg.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        Map(0L -> 66L, 1L -> 67L, 2L -> 67L))
    } finally GraftViewRewrite.unregister(base, "g")
  }
}
