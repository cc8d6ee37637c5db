package graft.cdc

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftBatchScan, GraftResolvingReaderFactory}

/** The Scala read API over the connector's one scan: the lookups' exact
  * key match is a literal filter whose tuples the scan hashes to buckets
  * (exact composite coverage), a key frame runs once, one-version reads
  * stay columnar, a resolving read resolves only the matched keys, and a
  * raw parquet read of a store directory is a raw read — never an index
  * route. */
class ReadApiSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  private def newTarget(): String =
    Files.createTempDirectory("graft_readapi").toString + "/t"

  /** The one connector scan `df` executed, after running it. */
  private def scanOf(df: DataFrame): GraftBatchScan = {
    df.collect()
    val scans = collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b.scan.asInstanceOf[GraftBatchScan]
    }
    assert(scans.size == 1, df.queryExecution.executedPlan.toString)
    scans.head
  }

  /** A table bucketed on both PK columns (a, b): a in 0..31, b in 0..63. */
  private def compositeTable(numBuckets: Int): String = {
    val t = newTarget()
    val data = spark.range(0, 2048).select(($"id" % 32).as("a"),
      ($"id" / 32).cast("long").as("b"), ($"id" * 0.5).as("v"))
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(data, lit(10L)), t,
      CdcApplier.Options(Seq("a", "b"), numBuckets = numBuckets))
    t
  }

  private def bucketsOf(tuples: Seq[(Long, Long)], numBuckets: Int): Seq[Int] =
    CdcApplier.bucketIdsOf(spark,
      tuples.map { case (a, b) => Seq[Column](lit(a), lit(b)) }, numBuckets, None)
      .distinct.sorted

  test("composite coverage: a key lookup and a SQL disjunction plan exactly their tuples' buckets") {
    val t = compositeTable(16)
    val tuples = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
    val exact = bucketsOf(tuples, 16)
    val cross = bucketsOf(for ((a, _) <- tuples; (_, b) <- tuples) yield (a, b), 16)
    assert(exact.size < cross.size,
      s"the fixture's cross product must cover more buckets: $exact vs $cross")

    val lookup = CdcApplier.pointLookup(spark, t, tuples.toDF("a", "b"))
    assert(scanOf(lookup).lastPlannedBuckets == exact)
    assert(lookup.select($"a", $"b").as[(Long, Long)].collect().sorted.toSeq == tuples)

    spark.sql("DROP TABLE IF EXISTS readapi_t")
    spark.sql(s"CREATE TABLE readapi_t USING graft OPTIONS (path '$t')")
    try {
      val bySql = spark.sql("SELECT a, b FROM readapi_t WHERE " +
        tuples.map { case (a, b) => s"(a = $a AND b = $b)" }.mkString(" OR "))
      assert(scanOf(bySql).lastPlannedBuckets == exact)
      assert(bySql.as[(Long, Long)].collect().sorted.toSeq == tuples)
    } finally spark.sql("DROP TABLE IF EXISTS readapi_t")
  }

  test("a 1024-key composite lookup plans and answers") {
    val t = compositeTable(64)
    val tuples = (0L until 2048L by 2).map(id => (id % 32, id / 32))
    val lookup = CdcApplier.pointLookup(spark, t, tuples.toDF("a", "b"))
    assert(scanOf(lookup).lastPlannedBuckets == bucketsOf(tuples, 64))
    assert(lookup.select($"a", $"b").as[(Long, Long)].collect().sorted.toSeq == tuples.sorted)
  }

  test("pointLookup executes a non-local key frame exactly once") {
    val t = newTarget()
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(
      spark.range(1, 101).select($"id".as("k"), ($"id" * 2.0).as("v")), $"k" * 10), t,
      CdcApplier.Options(Seq("k"), numBuckets = 4))
    val runs = spark.sparkContext.longAccumulator("key frame rows")
    val counted = udf { (k: Long) => runs.add(1); k }.asNondeterministic()
    // spark.range is not a local relation: collecting it runs a job
    val keys = spark.range(0, 3).select(counted($"id" * 5 + 1).as("k"))
    val got = CdcApplier.pointLookup(spark, t, keys).select($"k").as[Long].collect()
    assert(got.sorted.toSeq == Seq(1L, 6L, 11L))
    assert(runs.value == 3, s"the key frame's 3 rows ran ${runs.value} times")
  }

  test("a raw parquet read of an indexed mor store is never routed") {
    val base = Files.createTempDirectory("graft_readapi").toString
    val (store, index) = (base + "/store", base + "/index")
    val data = spark.range(1, 51).select($"id".as("k"), ($"id" % 5).as("v"),
      ($"id" + 0.5).as("w"))
    val opts = CdcApplier.Options(Seq("k"), numBuckets = 4)
    val iopts = CdcApplier.Options(Seq("v", "k"), bucketCols = Some(Seq("v")), numBuckets = 4)
    def indexFeed(changes: DataFrame): DataFrame =
      changes.select(col("op"), col("next_position"),
        when(col("before").isNotNull,
          struct(col("before.v").as("v"), col("before.k").as("k"))).as("before"),
        when(col("after").isNotNull,
          struct(col("after.v").as("v"), col("after.k").as("k"))).as("after"))
    // key 3 gets a superseding version, key 8 a tombstone: both v = 3
    val b1 = ChangeFeed.inserts(data, $"k" * 10)
    val b2 = ChangeFeed.updates(data.filter($"k" === 3L), Map("w" -> lit(99.0)), lit(1000L))
      .union(ChangeFeed.deletes(data.filter($"k" === 8L), lit(1000L)))
    Seq(b1, b2).foreach { b =>
      CdcApplier.applyBatchMor(spark, b, store, opts)
      CdcApplier.applyBatch(spark, indexFeed(b), index, iopts)
    }
    def raw(): Seq[String] = spark.read.parquet(store).filter($"v" === 3L)
      .select($"k", $"v", $"w").collect().map(_.toString).sorted.toSeq
    val unrouted = raw()
    val live = CdcApplier.snapshot(spark, store).filter($"v" === 3L)
      .select($"k", $"v", $"w").collect().map(_.toString).sorted.toSeq
    assert(unrouted.size > live.size,
      s"the raw read must hold the superseded version and the tombstone: $unrouted")
    import graft.plans.GraftIndexRoute
    GraftIndexRoute.install(spark)
    GraftIndexRoute.register(store, "v", index)
    try {
      val f0 = GraftIndexRoute.fired
      val d0 = GraftIndexRoute.declined
      assert(raw() == unrouted, "a raw read must serve every stored version")
      assert(GraftIndexRoute.fired == f0 && GraftIndexRoute.declined == d0,
        "a raw parquet relation is never consulted")
      // the live read of the same store still routes, and answers live rows
      val routed = CdcApplier.snapshot(spark, store).filter($"v" === 3L)
        .select($"k", $"v", $"w").collect().map(_.toString).sorted.toSeq
      assert(GraftIndexRoute.fired == f0 + 1 && routed == live)
    } finally GraftIndexRoute.unregister(store, "v")
  }

  test("a one-version snapshot reads columnar and drops its tombstones") {
    val t = newTarget()
    val data = spark.range(1, 201).select($"id".as("k"), ($"id" % 7).as("v"),
      concat(lit("s"), $"id".cast("string")).as("s"))
    val opts = CdcApplier.Options(Seq("k"), numBuckets = 4)
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(data, $"k" * 10), t, opts)
    CdcApplier.applyBatch(spark,
      ChangeFeed.deletes(data.filter($"k" % 3 === 0), lit(5000L)), t, opts)
    assert(spark.read.parquet(t).filter(col(CdcApplier.DEL)).count() == 66,
      "copy-on-write keeps its tombstones in the files")
    val snap = CdcApplier.snapshot(spark, t)
    val got = snap.select($"k", $"s").as[(Long, String)].collect().sorted.toSeq
    assert(got == (1L to 200L).filter(_ % 3 != 0).map(k => (k, s"s$k")))
    val scans = collect(snap.queryExecution.executedPlan) { case b: BatchScanExec => b }
    assert(scans.size == 1 && scans.head.supportsColumnar,
      snap.queryExecution.executedPlan.toString)
    // a mor delta chain resolves versions, row by row, to the same rows
    val m = newTarget()
    CdcApplier.applyBatchMor(spark, ChangeFeed.inserts(data, $"k" * 10), m, opts)
    CdcApplier.applyBatchMor(spark,
      ChangeFeed.deletes(data.filter($"k" % 3 === 0), lit(5000L)), m, opts)
    val mor = CdcApplier.snapshot(spark, m)
    assert(mor.select($"k", $"s").as[(Long, String)].collect().sorted.toSeq == got)
    assert(collect(mor.queryExecution.executedPlan) {
      case b: BatchScanExec => b.supportsColumnar
    } == Seq(false))
  }

  test("a resolving read's row filter keeps exactly the pushed key predicates") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Predicate
    import org.apache.spark.sql.sources
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    val schema = new StructType().add("a", LongType).add("b", StringType)
      .add("v", DoubleType)
    val filters: Array[sources.Filter] = Array(
      sources.In("a", Array(1L, 2L)),
      sources.Or(sources.And(sources.EqualTo("a", 1L), sources.EqualTo("b", "x")),
        sources.And(sources.EqualTo("a", 2L), sources.EqualTo("b", "y"))),
      sources.StringContains("b", "x"),
      sources.EqualTo("missing", 1L))
    val pred = Predicate.createInterpreted(
      GraftResolvingReaderFactory.rowFilter(filters, schema).get)
    def row(a: Long, b: String): InternalRow =
      InternalRow(a, UTF8String.fromString(b), 0.0)
    assert(pred.eval(row(1L, "x")) && pred.eval(row(2L, "y")))
    assert(!pred.eval(row(1L, "y")) && !pred.eval(row(3L, "x")))
    assert(GraftResolvingReaderFactory.rowFilter(
      Array(sources.StringContains("b", "x")), schema).isEmpty)
  }
}
