package graft.cdc

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.CdcApplier.TargetMeta

/** Optimization round 15 internals: the persisted-schema read path that
  * replaced per-read mergeSchema inference (guide §6 — the footer sweep is
  * gone, so the crash windows it used to paper over must be pinned
  * explicitly), the MOR additive-evolution schema union, and the
  * bucket-aligned write repartition (guide §2.5 — one bucket per task,
  * no hash-collision stragglers). */
class OptR15Spec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  private val opts = CdcApplier.Options(Seq("k"), numBuckets = 4)
  private def hconf = spark.sparkContext.hadoopConfiguration
  private def metaOf(t: String): TargetMeta =
    TargetMeta.read(hconf, new Path(t)).get

  private def newStore(n: Int): String = {
    val store = Files.createTempDirectory("graft_optr15").toString + "/store"
    val data = spark.range(1, n + 1)
      .select($"id".as("k"), ($"id" % 7).as("v"), ($"id" % 13).cast("int").as("w"))
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(data, $"k" * 10), store, opts)
    store
  }

  test("readStored serves the persisted schema without inference") {
    val store = newStore(20)
    val m = metaOf(store)
    assert(m.schemaJson.nonEmpty)
    val viaMeta = CdcApplier.readStored(spark, Some(m), Seq(store))
    val viaInference = spark.read.option("mergeSchema", true).parquet(store)
    assert(viaMeta.schema.fieldNames.toSeq == viaInference.schema.fieldNames.toSeq)
    assert(viaMeta.collect().map(_.toString).sorted.toSeq ==
      viaInference.collect().map(_.toString).sorted.toSeq)
  }

  test("additive-evolution crash window: new column reads NULL on old files") {
    val store = newStore(12)
    // simulate the documented crash: meta already carries the evolved
    // schema, no bucket has been rewritten with the new column yet
    val m = metaOf(store)
    val old = CdcApplier.storedSchema(Some(m)).get
    val evolved = StructType(
      old.fields.filterNot(_.name == CdcApplier.BUCKET) ++
        Seq(StructField("extra", LongType, nullable = true)) ++
        old.fields.filter(_.name == CdcApplier.BUCKET))
    TargetMeta.write(hconf, new Path(store), m.copy(schemaJson = Some(evolved.json)))
    val read = CdcApplier.readStored(spark, TargetMeta.read(hconf, new Path(store)),
      Seq(store))
    assert(read.schema.fieldNames.contains("extra"))
    assert(read.filter($"extra".isNotNull).count() == 0L)
    // snapshot stays serveable through the window
    assert(CdcApplier.snapshot(spark, store).count() == 12L)
  }

  test("widening crash window: int32 files read through a widened long schema") {
    val store = newStore(12)
    // simulate the widen crash: meta schema says LongType for `w` while
    // every file still holds int32 — the Spark 4 parquet reader must
    // upcast (the mergeSchema path this replaced never hit the case
    // because inference followed the files; the explicit-schema path
    // follows the meta, so pin the upcast)
    val m = metaOf(store)
    val old = CdcApplier.storedSchema(Some(m)).get
    assert(old("w").dataType == IntegerType)
    val widened = StructType(old.fields.map(f =>
      if (f.name == "w") f.copy(dataType = LongType) else f))
    TargetMeta.write(hconf, new Path(store), m.copy(schemaJson = Some(widened.json)))
    val read = CdcApplier.readStored(spark, TargetMeta.read(hconf, new Path(store)),
      Seq(store))
    assert(read.schema("w").dataType == LongType)
    val got = read.select($"k", $"w").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 12 && got.forall { case (k, w) => w == k % 13 })
  }

  test("MOR additive apply unions the persisted schema before the delta") {
    val store = Files.createTempDirectory("graft_optr15m").toString + "/store"
    val data = spark.range(1, 11).select($"id".as("k"), ($"id" % 7).as("v"))
    CdcApplier.applyBatchMor(spark, ChangeFeed.inserts(data, $"k" * 10), store, opts)
    val before = CdcApplier.storedSchema(Some(metaOf(store))).get
    assert(!before.fieldNames.contains("nc"))
    val wider = spark.range(1, 4)
      .select($"id".as("k"), ($"id" % 7).as("v"), ($"id" * 100).as("nc"))
    CdcApplier.applyBatchMor(spark,
      ChangeFeed.updates(wider, Map("v" -> ($"v" + 1)), $"k" * 10 + 5), store, opts)
    val after = CdcApplier.storedSchema(Some(metaOf(store))).get
    assert(after.fieldNames.contains("nc"))
    assert(after.fieldNames.last == CdcApplier.BUCKET)
    // the snapshot serves old rows with NULL nc, updated rows with values
    val snap = CdcApplier.snapshot(spark, store)
    assert(snap.filter($"nc".isNotNull).count() == 3L)
    assert(snap.count() == 10L)
  }

  test("bucketAlignedKey lands exactly one bucket per shuffle partition") {
    for (parts <- Seq(1, 3, 16, 61)) {
      val buckets = 0 until parts
      val keyed = spark.range(0, 1000)
        .select(($"id" % parts).cast("int").as(CdcApplier.BUCKET))
        .repartition(parts, CdcApplier.bucketAlignedKey(buckets, parts))
        .select(org.apache.spark.sql.functions.spark_partition_id().as("p"),
          col(CdcApplier.BUCKET))
        .distinct().collect().map(r => (r.getInt(0), r.getInt(1)))
      // every partition holds exactly one bucket, every bucket one partition
      assert(keyed.groupBy(_._1).forall(_._2.length == 1), s"parts=$parts")
      assert(keyed.map(_._2).distinct.length == parts, s"parts=$parts")
    }
    // sparse touched set: ids beyond parts still map one-per-task
    val sparse = Seq(3, 8, 13)
    val keyed = spark.range(0, 300)
      .select((element_at(typedLit(sparse), ($"id" % 3).cast("int") + 1))
        .cast("int").as(CdcApplier.BUCKET))
      .repartition(3, CdcApplier.bucketAlignedKey(sparse, 3))
      .select(org.apache.spark.sql.functions.spark_partition_id().as("p"),
        col(CdcApplier.BUCKET))
      .distinct().collect()
    assert(keyed.groupBy(_.getInt(0)).forall(_._2.length == 1))
    // ids outside the bucket list fail loudly, naming the id: a gap, a
    // negative (element indexes count from the end) and one above the max
    for (bad <- Seq(1, -2, -3, 4)) {
      val e = intercept[Exception] {
        Seq(0, 2, bad, 3).toDF(CdcApplier.BUCKET)
          .repartition(3, CdcApplier.bucketAlignedKey(Seq(0, 2, 3), 3))
          .collect()
      }
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
      assert(msgs.contains(s"bucket id $bad "), msgs)
    }
  }

  test("ANALYZE releases its histogram checkpoint") {
    val store = Files.createTempDirectory("graft_optr15h").toString + "/store"
    val data = spark.range(1, 101).select($"id".as("k"), ($"id" % 9).as("seg"))
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(data, $"k" * 10), store, opts)
    val before = spark.sparkContext.getPersistentRDDs.size
    ColumnStats.analyze(spark, store, histogramBins = 4)
    assert(ColumnStats.read(spark, store).get.cols("seg").hist.nonEmpty)
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("one-pass histograms match percentile bounds and exact per-bin NDVs") {
    // the melted single-pass engine (wave 2) must serve BIT-IDENTICAL
    // bounds to the R-7 interpolation it replaced (Spark's own percentile,
    // which the exact-quantile engine is locked against) and exact per-bin
    // distinct counts; skewed long + double + all-null + constant columns
    val store = Files.createTempDirectory("graft_optr15h").toString + "/store"
    val data = spark.range(1, 201).select(
      $"id".as("k"),
      when($"id" % 10 < 9, 0L).otherwise($"id").as("seg"), // 90% heavy value
      ($"id" % 7).cast("double").as("d"),
      lit(null).cast("long").as("allnull"),
      lit(5L).as("const"))
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(data, $"k" * 10), store, opts)
    val k = 8
    ColumnStats.analyze(spark, store, histogramBins = k)
    val ts = ColumnStats.read(spark, store).get
    val snap = CdcApplier.snapshot(spark, store)
    for (c <- Seq("seg", "d")) {
      val h = ts.cols(c).hist.getOrElse(fail(s"no histogram for $c"))
      val expect = snap.select(
        (1 until k).map(j =>
          expr(s"percentile($c, ${j.toDouble / k})").as(s"q$j")): _*).collect()(0)
      val interior = (1 until k).map(j => expect.getAs[Double](s"q$j"))
      assert(h.bins.map(_._1).drop(1) == interior, s"$c lower bounds")
      assert(h.bins.map(_._2).dropRight(1) == interior, s"$c upper bounds")
      // exact per-bin NDV, computed the pre-wave-2 way
      val binExpr = interior.map(b =>
        when(lit(b) < col(c).cast("double"), 1).otherwise(0)).reduce(_ + _)
      val perBin = snap.filter(col(c).isNotNull).withColumn("_b", binExpr)
        .groupBy($"_b").agg(count_distinct(col(c).cast("double")).as("n"))
        .collect().map(r => r.getAs[Int]("_b") -> r.getAs[Long]("n")).toMap
      assert(h.bins.zipWithIndex.forall { case ((_, _, ndv), i) =>
        ndv == math.max(1L, perBin.getOrElse(i, 1L)) }, s"$c bin NDVs")
      assert(h.height == snap.filter(col(c).isNotNull).count().toDouble / k)
    }
    // constant column: one singleton bin; all-null column: no histogram
    assert(ts.cols("const").hist.contains(
      ColumnStats.Hist(200.0, Seq((5.0, 5.0, 1L)))))
    assert(ts.cols("allnull").hist.isEmpty)
  }

  test("mor publish derives exact maxPos watermarks from the footer pass") {
    // the per-bucket max-position read-back of just-written delta files is
    // now a driver-side fold over the sidecar footer stats — the persisted
    // watermarks must stay EXACT (the streaming tail and changeFeed's
    // bucket pruning both poll them)
    val store = Files.createTempDirectory("graft_optr15w").toString + "/store"
    val data = spark.range(1, 41)
      .select($"id".as("k"), ($"id" % 7).as("v"))
    CdcApplier.applyBatchMor(spark, ChangeFeed.inserts(data, $"k" * 10), store, opts)
    CdcApplier.applyBatchMor(spark,
      ChangeFeed.updates(data.filter($"k" % 3 === 0), Map("v" -> ($"v" + 1)),
        $"k" * 10 + 5), store, opts)
    val m = metaOf(store)
    assert(m.maxPos.contains(400L)) // batch-1 insert k=40 at 40*10
    val expect = CdcApplier.readStored(spark, Some(m), Seq(store))
      .groupBy(col(CdcApplier.BUCKET))
      .agg(max(col(CdcApplier.POS)).as("p"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(m.bucketMaxPos.contains(expect))
  }

  test("index seed slices still resume and converge after the grouped apply") {
    val store = newStore(30)
    val r1 = IndexLifecycle.createIndex(spark, store, "v", maxBuckets = 1)
    assert(r1.state == "building" && r1.seeded.size == 1)
    val r2 = IndexLifecycle.createIndex(spark, store, "v")
    assert(r2.state == "live")
    val idx = IndexLifecycle.indexDir(store, "v")
    val expect = CdcApplier.snapshot(spark, store)
      .select($"v", $"k").collect().map(_.toString).sorted.toSeq
    val got = CdcApplier.snapshot(spark, idx)
      .select($"v", $"k").collect().map(_.toString).sorted.toSeq
    assert(got == expect)
    IndexLifecycle.dropIndex(spark, store, "v")
  }
}
