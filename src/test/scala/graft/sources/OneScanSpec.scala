package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LeafExecNode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{Branch, CdcApplier, ChangeFeed}

/** Every read of a graft table's own shape — PK IN-list, BETWEEN, LIMIT,
  * `asOfPos`, branch, SQL, the V1 relation seam — is served by the one
  * connector scan,
  * [[GraftBatchScan]], on copy-on-write, merge-on-read and deletion-vector
  * targets over hash and range layouts, and answers exactly what the
  * Scala read API answers. */
class OneScanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  private val base = spark.range(1, 61).select($"id".as("k"),
    ($"id" * 1.5).as("v"), concat(lit("t"), $"id" % 3).as("s"))

  /** Inserts, then %7 updates and %11 deletes, on the given storage. */
  private def target(storage: String, opts: CdcApplier.Options): String = {
    val t = Files.createTempDirectory("graft_onescan").toString + "/t"
    val ins = ChangeFeed.inserts(base, $"k" * 10)
    val upd = ChangeFeed.updates(base.filter($"k" % 7 === 0),
      Map("v" -> ($"v" * 2)), $"k" * 10 + 5)
    val del = ChangeFeed.deletes(base.filter($"k" % 11 === 0), $"k" * 10 + 7)
    storage match {
      case "cow" =>
        CdcApplier.applyBatch(spark, ins, t, opts)
        CdcApplier.applyBatch(spark, upd.union(del), t, opts)
      case "mor" =>
        CdcApplier.applyBatchMor(spark, ins, t, opts)
        CdcApplier.applyBatchMor(spark, upd.union(del), t, opts)
      case "dv" =>
        CdcApplier.applyBatch(spark, ins, t, opts)
        CdcApplier.applyBatch(spark, upd, t, opts)
        CdcApplier.applyBatchDv(spark, del, t, opts)
    }
    t
  }

  private val layouts = Seq(
    "hash" -> CdcApplier.Options(Seq("k"), numBuckets = 8),
    "range" -> CdcApplier.Options(Seq("k"), rangeBounds = Some(Seq(15L, 30L, 45L))))

  private def rowsOf(df: DataFrame): Seq[String] =
    df.select($"k", $"v", $"s", col(CdcApplier.POS)).collect().map(_.toString).sorted.toSeq

  /** The executed plan's leaf labels, after running the query. */
  private def leaves(df: DataFrame): Seq[String] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case l: LeafExecNode => l.simpleString(100) }
  }

  /** Exactly one GraftBatchScan serves the read, no V1 relation; returns
    * its (covered, all) bucket counts. */
  private def oneScan(what: String, df: DataFrame): (Int, Int) = {
    val ls = leaves(df)
    assert(ls.count(_.contains("GraftBatchScan ")) == 1 &&
      !ls.exists(_.contains("GraftRelation(")), s"$what:\n${ls.mkString("\n")}")
    val m = """buckets=(\d+)/(\d+)""".r.findFirstMatchIn(ls.mkString("\n")).get
    (m.group(1).toInt, m.group(2).toInt)
  }

  private def read(t: String): DataFrame = spark.read.format("graft").load(t)

  test("current-state reads: PK IN-list, BETWEEN, LIMIT, SQL and the V1 seam on every layout") {
    // an updated key (14), a deleted one (22); one band of the range layout
    val keys = Seq(3L, 14L, 22L, 29L)
    for ((layout, opts) <- layouts; storage <- Seq("cow", "mor", "dv")) {
      val t = target(storage, opts)
      val what = s"$storage/$layout"
      val snap = CdcApplier.snapshot(spark, t)

      val in = read(t).filter($"k".isin(keys: _*))
      val (ik, in_) = oneScan(s"$what IN", in)
      assert(ik < in_, s"$what: the IN-list must prune ($ik/$in_)")
      assert(rowsOf(in) == rowsOf(CdcApplier.pointLookup(spark, t, keys.toDF("k"))), what)

      val between = read(t).filter($"k".between(20L, 35L))
      val (bk, bn) = oneScan(s"$what BETWEEN", between)
      val want =
        if (layout == "range") CdcApplier.rangeLookup(spark, t, 20L, 35L)
        else snap.filter($"k".between(20L, 35L))
      assert(rowsOf(between) == rowsOf(want), what)
      if (layout == "range") assert(bk < bn, s"$what: BETWEEN must prune ($bk/$bn)")

      val lim = read(t).limit(5)
      oneScan(s"$what LIMIT", lim)
      assert(leaves(lim).exists(_.contains("limit=5")), what)
      val limRows = rowsOf(lim)
      assert(limRows.size == 5 && limRows.toSet.subsetOf(rowsOf(snap).toSet), what)

      // SQL over a `USING graft` table, and the V1 RelationProvider seam
      // (a session that lists graft among its V1 sources)
      spark.sql("DROP TABLE IF EXISTS onescan_t")
      spark.sql(s"CREATE TABLE onescan_t USING graft OPTIONS (path '$t')")
      val v1Key = "spark.sql.sources.useV1SourceList"
      val v1List = spark.conf.get(v1Key)
      try {
        val bySql = spark.sql(s"SELECT * FROM onescan_t WHERE k IN (${keys.mkString(",")})")
        val (sk, sn) = oneScan(s"$what SQL table", bySql)
        assert(sk < sn, s"$what: SQL must prune ($sk/$sn)")
        assert(rowsOf(bySql) == rowsOf(in), what)
        spark.conf.set(v1Key, "graft")
        val v1 = read(t).filter($"k".isin(keys: _*))
        val (vk, vn) = oneScan(s"$what V1 relation", v1)
        assert(leaves(v1).exists(_.contains("GraftV1Relation(GraftBatchScan ")), what)
        assert(vk < vn, s"$what: the V1 seam must prune ($vk/$vn)")
        assert(rowsOf(v1) == rowsOf(in), what)
      } finally {
        spark.conf.set(v1Key, v1List)
        spark.sql("DROP TABLE IF EXISTS onescan_t")
      }

      if (storage != "mor") {
        val e = intercept[Exception] {
          spark.read.format("graft").option("asOfPos", 100L).load(t).collect()
        }
        assert(e.getMessage.contains("copy-on-write"), e.getMessage)
      }
    }
  }

  test("history reads: asOfPos and branch lineage, full and pruned, on mor") {
    for ((layout, opts) <- layouts) {
      val t = target("mor", opts)
      val what = s"mor/$layout"

      for (pos <- Seq(100L, 400L, 1000L)) {
        val asOf = spark.read.format("graft").option("asOfPos", pos).load(t)
        val (_, n) = oneScan(s"$what asOf $pos", asOf)
        assert(leaves(asOf).exists(_.contains(s"asOfPos=$pos")), what)
        assert(rowsOf(asOf) == rowsOf(CdcApplier.snapshotAsOf(spark, t, pos)), s"$what @$pos")
        val pruned = spark.read.format("graft").option("asOfPos", pos).load(t)
          .filter($"k".isin(3L, 7L, 33L))
        val (pk, pn) = oneScan(s"$what asOf pruned", pruned)
        assert(pk < pn && pn == n, s"$what: as-of must prune ($pk/$pn)")
        assert(rowsOf(pruned) ==
          rowsOf(CdcApplier.snapshotAsOf(spark, t, pos).filter($"k".isin(3L, 7L, 33L))))
      }

      Branch.create(spark, t, "wip")
      val staged = spark.range(1, 81).select($"id".as("k"),
        ($"id" * 100.0).as("v"), lit("b").as("s"))
      Branch.applyBatch(spark, t, "wip",
        ChangeFeed.updates(staged.filter($"k" % 4 === 0 && $"k" <= 60),
          Map.empty, lit(5000L))
          .union(ChangeFeed.inserts(staged.filter($"k" > 60), lit(5000L)))
          .union(ChangeFeed.deletes(staged.filter($"k" === 5L), lit(5000L))))
      // main moves on after the branch point: the branch read must not see it
      CdcApplier.applyBatchMor(spark,
        ChangeFeed.updates(base.filter($"k" === 2L), Map("v" -> lit(-1.0)), lit(6000L)),
        t, opts)
      val branch = spark.read.format("graft").option("branch", "wip").load(t)
      oneScan(s"$what branch", branch)
      assert(rowsOf(branch) == rowsOf(Branch.snapshot(spark, t, "wip")), what)
      val keys = Seq(2L, 5L, 8L, 20L)
      val pruned = spark.read.format("graft").option("branch", "wip").load(t)
        .filter($"k".isin(keys: _*))
      val (pk, pn) = oneScan(s"$what branch pruned", pruned)
      assert(pk < pn, s"$what: the branch read must prune ($pk/$pn)")
      val want = Branch.pointLookup(spark, t, "wip", keys.toDF("k"))
      assert(rowsOf(pruned) == rowsOf(want), what)
      assert(rowsOf(pruned).size == 3, s"k=5 is deleted on the branch: ${rowsOf(pruned)}")
    }
  }
}
