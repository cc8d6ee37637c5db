package graft.cdc

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.CdcApplier.TargetMeta

/** The applier's version reads — compactMor, vacuumMor's collapsed part,
  * rollback's two sides, compact's rewrite and the copy-on-write merge's
  * current side — are the connector's scan in its applier mode: they keep
  * the stored frame's PHYSICAL names (renamed and dropped columns
  * included), resolve per bucket with no window, and vacuumMor's cut below
  * the as-of floor behaves as the pre-scan window did. */
class ApplierScanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  private val opts = CdcApplier.Options(Seq("k"), numBuckets = 4)
  private def hconf = spark.sparkContext.hadoopConfiguration
  private def newTarget(): String =
    Files.createTempDirectory("graft_applier").toString + "/t"
  private def metaOf(t: String): TargetMeta = TargetMeta.read(hconf, new Path(t)).get

  private def rows(n: Int): DataFrame =
    spark.range(1, n + 1).select($"id".as("k"), ($"id" * 2.0).as("v"),
      concat(lit("t"), $"id").as("tag"), ($"id" % 5).cast("int").as("w"))

  /** Every data file's footer column names, per file (deletion vectors,
    * which hold only the key, position and flag, excepted). */
  private def footers(t: String): Seq[Set[String]] = {
    val fs = new Path(t).getFileSystem(hconf)
    CdcApplier.bucketIds(fs, new Path(t)).flatMap { b =>
      fs.listStatus(new Path(t, s"${CdcApplier.BUCKET}=$b"))
        .filter(f => FileStats.isDataFile(f) && !f.getPath.getName.startsWith("dv-")).map { f =>
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(f.getPath, hconf))
          try r.getFooter.getFileMetaData.getSchema.getFields.toArray
            .map(_.asInstanceOf[org.apache.parquet.schema.Type].getName).toSet
          finally r.close()
        }.toSeq
    }
  }

  /** Footers carry the physical `v` (renamed to `value`) and the dropped
    * `tag`, and `tag`'s stored bytes for `key` still read back. */
  private def assertPhysical(t: String, key: Long, what: String): Unit = {
    val fs = footers(t)
    assert(fs.nonEmpty, what)
    fs.foreach { f =>
      assert(f("v") && !f("value") && f("tag"), s"$what: footer columns $f")
    }
    val tag = spark.read.option("mergeSchema", true).parquet(t)
      .filter($"k" === key && !$"_graft_deleted")
      .orderBy($"_graft_pos".desc).select($"tag").as[String].collect().headOption
    assert(tag.contains(s"t$key"), s"$what: dropped column bytes for key $key: $tag")
  }

  private def answer(df: DataFrame): Set[Row] =
    df.select($"k", $"value", $"w").collect().toSet

  test("mor: vacuumMor, rollback and compactMor keep physical names after a rename and a drop") {
    val t = newTarget()
    CdcApplier.applyBatchMor(spark, ChangeFeed.inserts(rows(20), $"k" * 10), t, opts)
    CdcApplier.renameColumn(spark, t, "v", "value")
    CdcApplier.dropColumn(spark, t, "tag")
    // later batches name `v` logically and still carry the dropped `tag`
    val logical = rows(20).withColumnRenamed("v", "value")
    CdcApplier.applyBatchMor(spark, ChangeFeed.updates(logical.filter($"k" % 2 === 0),
      Map("value" -> ($"value" * 3)), lit(1000L) + $"k"), t, opts)
    CdcApplier.applyBatchMor(spark, ChangeFeed.updates(logical.filter($"k" % 3 === 0),
      Map("w" -> lit(-1)), lit(2000L) + $"k"), t, opts)
    val current = answer(CdcApplier.snapshot(spark, t))
    val at1500 = answer(CdcApplier.snapshotAsOf(spark, t, 1500L))
    assert(current != at1500)

    CdcApplier.vacuumMor(spark, t, 1500L)
    assert(metaOf(t).collapsed.contains(1020L))
    assertPhysical(t, 1L, "vacuumMor")
    assert(answer(CdcApplier.snapshot(spark, t)) == current)
    assert(answer(CdcApplier.snapshotAsOf(spark, t, 1500L)) == at1500)

    val restoredAt = CdcApplier.rollback(spark, t, 1500L)
    assert(restoredAt == 2019L)
    assertPhysical(t, 1L, "rollback")
    assert(answer(CdcApplier.snapshot(spark, t)) == at1500)
    assert(answer(CdcApplier.snapshotAsOf(spark, t, 2018L)) == current)

    CdcApplier.compactMor(spark, t)
    assertPhysical(t, 1L, "compactMor")
    assert(answer(CdcApplier.snapshot(spark, t)) == at1500)
    assert(answer(CdcApplier.snapshotAsOf(spark, t, 2019L)) == at1500)
  }

  test("cow with deletion vectors: a merge and compact keep physical names after a rename and a drop") {
    val t = newTarget()
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(rows(20), $"k" * 10), t, opts)
    CdcApplier.renameColumn(spark, t, "v", "value")
    CdcApplier.dropColumn(spark, t, "tag")
    // later batches name `v` logically and still carry the dropped `tag`
    val logical = rows(20).withColumnRenamed("v", "value")
    CdcApplier.applyBatchDv(spark,
      ChangeFeed.deletes(logical.filter($"k" % 4 === 0), lit(500L) + $"k"), t, opts)
    CdcApplier.applyBatch(spark, ChangeFeed.updates(
      logical.filter($"k" % 3 === 0 && $"k" % 4 =!= 0),
      Map("w" -> lit(-1)), lit(1000L) + $"k"), t, opts)
    val expected = logical.drop("tag").filter($"k" % 4 =!= 0)
      .withColumn("w", when($"k" % 3 === 0, lit(-1)).otherwise($"w"))
    assert(answer(CdcApplier.snapshot(spark, t)) == answer(expected))
    assertPhysical(t, 1L, "dv-bearing merge")

    CdcApplier.compact(spark, t, 2000L)
    assert(metaOf(t).dv.isEmpty)
    assertPhysical(t, 1L, "compact")
    assert(answer(CdcApplier.snapshot(spark, t)) == answer(expected))
  }

  /** The executed plans of every write `op` runs. */
  private def writePlans(op: => Any): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.analyzed match {
          case _: DataWritingCommand => plans.add(qe.executedPlan)
          case _ =>
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try op
    finally {
      org.apache.spark.sql.graft.ListenerDrain(spark)
      spark.listenerManager.unregister(listener)
    }
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  /** Each write reads a GraftBatchScan leaf and runs no window. */
  private def assertScanNoWindow(plans: Seq[SparkPlan], what: String): Unit = {
    assert(plans.nonEmpty, s"$what wrote nothing")
    plans.foreach { p =>
      assert(collect(p) { case b: BatchScanExec
        if b.scan.isInstanceOf[graft.sources.GraftBatchScan] => b }.nonEmpty, s"$what: $p")
      assert(collect(p) { case w: WindowExec => w }.isEmpty, s"$what: $p")
    }
  }

  test("write plans: compactMor, vacuumMor, the dv fold and the dv-bearing merge read the scan, no window") {
    val mor = newTarget()
    CdcApplier.applyBatchMor(spark, ChangeFeed.inserts(rows(20), $"k" * 10), mor, opts)
    CdcApplier.applyBatchMor(spark, ChangeFeed.updates(rows(20).filter($"k" % 2 === 0),
      Map("w" -> lit(7)), lit(1000L) + $"k"), mor, opts)
    CdcApplier.applyBatchMor(spark, ChangeFeed.updates(rows(20).filter($"k" % 3 === 0),
      Map("w" -> lit(8)), lit(2000L) + $"k"), mor, opts)
    val vacuum = writePlans(CdcApplier.vacuumMor(spark, mor, 1500L))
    assertScanNoWindow(vacuum, "vacuumMor")
    val compaction = writePlans(CdcApplier.compactMor(spark, mor))
    assertScanNoWindow(compaction, "compactMor")
    // stage's one bucket-aligned shuffle stays; no exchange hashes the PK
    compaction.foreach { p =>
      val pkHashed = collect(p) {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }.exists {
        case h: HashPartitioning => h.expressions.exists(_.references.exists {
          case a: AttributeReference => a.name == "k"
          case _ => false
        })
        case _ => false
      }
      assert(!pkHashed, s"compactMor shuffles on the PK: $p")
    }
    assert(CdcApplier.snapshot(spark, mor).count() == 20L)

    val cow = newTarget()
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(rows(20), $"k" * 10), cow, opts)
    CdcApplier.applyBatchDv(spark,
      ChangeFeed.deletes(rows(20).filter($"k" % 4 === 0), lit(500L) + $"k"), cow, opts)
    val merge = writePlans(CdcApplier.applyBatch(spark,
      ChangeFeed.updates(rows(20).filter($"k" === 1L), Map("w" -> lit(9)), lit(1000L)),
      cow, opts))
    assertScanNoWindow(merge, "dv-bearing merge")
    val fold = writePlans(CdcApplier.compact(spark, cow, 100L))
    assertScanNoWindow(fold, "compact's dv fold")
    assert(CdcApplier.snapshot(spark, cow).select($"k").as[Long].collect().toSet ==
      (1L to 20L).filterNot(_ % 4 == 0).toSet)
  }

  test("vacuumMor at or below the as-of floor rewrites every bucket and keeps floor and answers") {
    val t = newTarget()
    CdcApplier.applyBatchMor(spark, ChangeFeed.inserts(rows(20), $"k" * 10), t, opts)
    CdcApplier.applyBatchMor(spark, ChangeFeed.updates(rows(20).filter($"k" % 2 === 0),
      Map("w" -> lit(7)), lit(1000L) + $"k"), t, opts)
    CdcApplier.compactMor(spark, t)
    val floor = metaOf(t).collapsed.get
    assert(floor == 1020L)
    CdcApplier.applyBatchMor(spark, ChangeFeed.updates(rows(20).filter($"k" % 3 === 0),
      Map("w" -> lit(8)), lit(2000L) + $"k"), t, opts)
    def state(df: DataFrame): Set[Row] = df.select($"k", $"v", $"w").collect().toSet
    val current = state(CdcApplier.snapshot(spark, t))
    val atFloor = state(CdcApplier.snapshotAsOf(spark, t, floor))
    val all = CdcApplier.bucketIds(new Path(t).getFileSystem(hconf), new Path(t))

    // at the floor, and below it: the versions below the cut collapse again
    // (they already are one per key), every bucket is rewritten, the floor
    // stays, `sorted` clears
    Seq(floor, 15L).foreach { retain =>
      assert(CdcApplier.vacuumMor(spark, t, retain) == all, s"retainFromPos $retain")
      assert(metaOf(t).collapsed.contains(floor) && metaOf(t).sorted.isEmpty)
      assert(state(CdcApplier.snapshot(spark, t)) == current)
      assert(state(CdcApplier.snapshotAsOf(spark, t, floor)) == atFloor)
    }
    // below every stored position: nothing to collapse, nothing touched
    assert(CdcApplier.vacuumMor(spark, t, 10L).isEmpty)
    assert(metaOf(t).collapsed.contains(floor))
    assert(state(CdcApplier.snapshot(spark, t)) == current)
  }
}
