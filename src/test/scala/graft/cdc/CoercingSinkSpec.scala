package graft.cdc

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** S20 value-coercion semantics from the reference's Mongo path, incl. the
  * enum-null edge (CHANGELOG #9). */
class CoercingSinkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("enum ordinal->label with 0 and out-of-range NULL-encoding; decimal->double; bytes->utf8") {
    val enumMeta = new MetadataBuilder()
      .putStringArray("enumValues", Array("pending", "verified")).build()
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("status", IntegerType, nullable = true, metadata = enumMeta),
      StructField("amount", DecimalType(18, 4)),
      StructField("note", BinaryType)))
    val rows = Seq(
      Row(1, 1, BigDecimal("12.5000").bigDecimal, "hello".getBytes("UTF-8")),
      Row(2, 2, BigDecimal("-3.2500").bigDecimal, "wörld".getBytes("UTF-8")),
      Row(3, 0, null, null), // 0 = MySQL's invalid-enum sentinel -> NULL
      Row(4, 9, BigDecimal("0.0001").bigDecimal, "".getBytes("UTF-8"))) // out of range -> NULL, no AIOOBE
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)

    val out = CoercingSink.coerce(df).collect().sortBy(_.getInt(0))
    assert(out(0).getString(1) == "pending")
    assert(out(0).getDouble(2) == 12.5)
    assert(out(0).getString(3) == "hello")
    assert(out(1).getString(1) == "verified")
    assert(out(1).getString(3) == "wörld")
    assert(out(2).isNullAt(1) && out(2).isNullAt(2) && out(2).isNullAt(3))
    assert(out(3).isNullAt(1), "out-of-range ordinal must NULL-encode, not throw")
    assert(out(3).getDouble(2) == 1e-4)
  }

  test("replicate writes the coerced snapshot to a secondary dir") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val target = java.nio.file.Files.createTempDirectory("graft_cs").toString + "/t"
    val rows = Seq((1, 10), (2, 20)).toDF("k", "v")
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(rows, col("k").cast("long")),
      target, CdcApplier.Options(Seq("k")))
    val second = java.nio.file.Files.createTempDirectory("graft_cs2").toString + "/s"
    CoercingSink.replicate(spark, target, second)
    val back = spark.read.parquet(second).select("k", "v").as[(Int, Int)].collect().toSet
    assert(back == Set((1, 10), (2, 20)))
  }

  test("incremental replication backfills an empty replica on first activation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // primary already holds rows spread across many buckets BEFORE the
    // second sink exists
    val target = java.nio.file.Files.createTempDirectory("graft_cs").toString + "/t"
    val rows = (1 to 64).map(i => (i, i * 10)).toDF("k", "v")
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(rows, col("k").cast("long")),
      target, CdcApplier.Options(Seq("k")))

    // a later batch touches one key; the replica must still arrive complete
    val second = java.nio.file.Files.createTempDirectory("graft_cs2").toString + "/s"
    val touched = CdcApplier.applyBatch(spark,
      ChangeFeed.updates(rows.filter(col("k") === 1), Map("v" -> lit(999)), lit(1000L)),
      target, CdcApplier.Options(Seq("k")))
    CoercingSink.replicateBuckets(spark, target, second, touched)
    val back = spark.read.parquet(second).select("k", "v").as[(Int, Int)].collect().toSet
    assert(back.size == 64, "first replication must backfill every bucket")
    assert(back.contains((1, 999)))
  }

  test("replica follows an additive schema evolution (new column reaches the second sink)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val target = java.nio.file.Files.createTempDirectory("graft_cs").toString + "/t"
    val second = java.nio.file.Files.createTempDirectory("graft_cs2").toString + "/s"
    val rows = Seq((1, 10), (2, 20)).toDF("k", "v")
    val opts = CdcApplier.Options(Seq("k"))
    val t1 = CdcApplier.applyBatch(spark,
      ChangeFeed.inserts(rows, col("k").cast("long")), target, opts)
    CoercingSink.replicateBuckets(spark, target, second, t1)

    // upstream DDL adds a column: the evolution batch rewrites every bucket
    // and returns them all, so the replica mirrors the widened schema
    val widened = Seq((3, 30)).toDF("k", "v").withColumn("extra", lit("x"))
    val t2 = CdcApplier.applyBatch(spark,
      ChangeFeed.inserts(widened, lit(100L)), target, opts)
    CoercingSink.replicateBuckets(spark, target, second, t2)
    val back = spark.read.option("mergeSchema", true).parquet(second)
      .select($"k", $"v", $"extra").as[(Int, Int, Option[String])].collect().toSet
    assert(back == Set((1, 10, None), (2, 20, None), (3, 30, Some("x"))))
  }

  test("rows masked by deletion vectors never reach the replica") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val target = java.nio.file.Files.createTempDirectory("graft_cs").toString + "/t"
    val second = java.nio.file.Files.createTempDirectory("graft_cs2").toString + "/s"
    val rows = (1 to 20).map(i => (i, i * 10)).toDF("k", "v")
    val opts = CdcApplier.Options(Seq("k"), numBuckets = 4)
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(rows, col("k").cast("long")),
      target, opts)
    // copy-on-write primary with an outstanding deletion vector for key 5
    CdcApplier.applyBatchDv(spark,
      ChangeFeed.deletes(rows.filter(col("k") === 5), lit(1000L)), target, opts)
    assert(CdcApplier.snapshot(spark, target).count() == 19)
    CoercingSink.replicate(spark, target, second)
    val back = spark.read.parquet(second).select("k").as[Int].collect().sorted
    assert(back.toSeq == (1 to 20).filterNot(_ == 5),
      s"the replica must mirror the live rows, got ${back.mkString(",")}")
  }
}
