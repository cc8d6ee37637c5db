package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, In, LessThanOrEqual}
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{CdcApplier, ChangeFeed}

case class Acct(k: Long, grp: Long, bal: Double, tag: String)

/** The `graft` DataSource V2 connector: schema surface, filter pushdown →
  * bucket pruning (functionally load-bearing, not just cosmetic), MOR
  * latest-per-key through plain SQL, and the Catalog.map re-point. */
class GraftDataSourceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  private def newDir(): String =
    Files.createTempDirectory("graft_dsv2").toString + "/t"

  private def accts(n: Int): DataFrame =
    spark.range(1, n + 1).select(
      $"id".as("k"), ($"id" % 5).as("grp"),
      ($"id" * 1.5).as("bal"), concat(lit("t"), $"id" % 3).as("tag"))

  private val opts = CdcApplier.Options(Seq("k"), numBuckets = 8)

  /** Bootstrap + one update/delete batch — the canonical lifecycle. */
  private def build(target: String, o: CdcApplier.Options = opts,
      mor: Boolean = false): Unit = {
    val base = accts(200)
    val apply: (DataFrame) => Unit =
      if (mor) b => { CdcApplier.applyBatchMor(spark, b, target, o); () }
      else b => { CdcApplier.applyBatch(spark, b, target, o); () }
    apply(ChangeFeed.inserts(base, $"k" * 10))
    apply(
      ChangeFeed.updates(base.filter($"k" % 7 === 0),
        Map("bal" -> ($"bal" * 2)), $"k" * 10 + 5)
        .union(ChangeFeed.deletes(base.filter($"k" % 11 === 0), $"k" * 10 + 7)))
  }

  /** Expected live state of [[build]]'s lifecycle. */
  private def expected: DataFrame =
    accts(200)
      .withColumn("bal", when($"k" % 7 === 0, $"bal" * 2).otherwise($"bal"))
      .filter($"k" % 11 =!= 0)

  private def read(target: String): DataFrame =
    spark.read.format("graft").load(target)

  test("schema serves data columns + _graft_pos, hides layout columns") {
    val target = newDir()
    build(target)
    val cols = read(target).columns.toSet
    assert(cols == Set("k", "grp", "bal", "tag", "_graft_pos"))
  }

  test("full read equals snapshot (copy-on-write)") {
    val target = newDir()
    build(target)
    val got = read(target).drop("_graft_pos").as[Acct].collect().toSet
    assert(got == expected.as[Acct].collect().toSet)
    assert(got.nonEmpty)
  }

  test("MOR read resolves latest-per-key and tombstones — no superseded leakage") {
    val target = newDir()
    build(target, mor = true)
    val got = read(target).drop("_graft_pos").as[Acct].collect().toSet
    assert(got == expected.as[Acct].collect().toSet)
    // the raw tree really does hold multiple versions (what Catalog.map
    // used to leak): raw parquet row count exceeds the resolved count
    val raw = spark.read.parquet(target).count()
    assert(raw > got.size, s"expected delta versions on disk: raw=$raw live=${got.size}")
  }

  test("MOR: non-PK filters apply after resolution (old version must not resurrect)") {
    val target = newDir()
    val one = Seq((1L, 1L, 10.0, "t0")).toDF("k", "grp", "bal", "tag")
    CdcApplier.applyBatchMor(spark, ChangeFeed.inserts(one, lit(100L)), target, opts)
    CdcApplier.applyBatchMor(spark,
      ChangeFeed.updates(one, Map("bal" -> lit(999.0)), lit(200L)), target, opts)
    // bal < 100 matches only the SUPERSEDED version; the row must be absent
    assert(read(target).filter($"bal" < 100).count() == 0)
    assert(read(target).filter($"bal" > 100).count() == 1)
  }

  test("hash-bucket pruning is load-bearing: uncovered buckets are never read") {
    val target = newDir()
    build(target)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(target).getFileSystem(hconf)
    // which bucket holds k=3? corrupt every OTHER bucket's files
    val keep = CdcApplier.bucketIdsOf(spark, Seq(Seq(lit(3L))), 8, None).head
    CdcApplier.bucketIds(fs, new Path(target)).filterNot(_ == keep).foreach { b =>
      fs.listStatus(new Path(target, s"graft_bucket=$b"))
        .filterNot(_.getPath.getName.startsWith("_")).foreach { f =>
          val out = fs.create(f.getPath, true)
          try out.write("not parquet".getBytes) finally out.close()
        }
    }
    spark.catalog.refreshByPath(target)
    // pruned read: only bucket `keep` is listed/read → succeeds
    val row = read(target).filter($"k" === 3L).select($"bal").as[Double].collect()
    assert(row.toSeq == Seq(4.5))
    // unpruned read must hit the corrupted buckets → fails
    intercept[Exception] {
      read(target).agg(sum($"bal")).collect()
    }
  }

  test("range layout: BETWEEN covers only the contiguous buckets") {
    val target = newDir()
    val ropts = CdcApplier.Options(Seq("k"), rangeBounds = Some(Seq(50L, 100L, 150L)))
    build(target, ropts)
    val got = read(target).filter($"k" >= 60L && $"k" <= 90L)
      .drop("_graft_pos").as[Acct].collect().toSet
    assert(got == expected.filter($"k" >= 60 && $"k" <= 90).as[Acct].collect().toSet)
    // scan-builder unit check: the covered set is exactly bucket 1 ([50,100))
    val meta = CdcApplier.TargetMeta.read(
      spark.sparkContext.hadoopConfiguration, new Path(target))
    val schema = GraftTable.tableSchema(spark, target)
    val covered = GraftScan.coveredBuckets(meta, schema,
      Array[Filter](GreaterThanOrEqual("k", 60L), LessThanOrEqual("k", 90L)),
      Seq(0, 1, 2, 3))
    assert(covered == Seq(1))
  }

  test("scan builder: IN-list maps to its bucket set; contradiction maps to none") {
    val target = newDir()
    build(target)
    val meta = CdcApplier.TargetMeta.read(
      spark.sparkContext.hadoopConfiguration, new Path(target))
    val schema = GraftTable.tableSchema(spark, target)
    val all = (0 until 8)
    val covered = GraftScan.coveredBuckets(meta, schema,
      Array[Filter](In("k", Array(3L, 14L, 77L))), all)
    val expect = CdcApplier.bucketIdsOf(spark,
      Seq(3L, 14L, 77L).map(v => Seq(lit(v))), 8, None).distinct.sorted
    assert(covered == expect)
    assert(covered.size < all.size)
    // k IN (3) AND k = 5 → empty value intersection → zero buckets
    val none = GraftScan.coveredBuckets(meta, schema,
      Array[Filter](In("k", Array(3L)), EqualTo("k", 5L)), all)
    assert(none.isEmpty)
    // a filter on a non-bucket column must not prune
    assert(GraftScan.coveredBuckets(meta, schema,
      Array[Filter](EqualTo("grp", 1L)), all) == all)
  }

  test("runtime filtering: join keys prune buckets at execution; results intact (cow + mor)") {
    import org.apache.spark.sql.sources.In
    for (isMor <- Seq(false, true)) {
      val target = newDir()
      build(target, mor = isMor)
      val schema = GraftTable.tableSchema(spark, target)
      // direct-construction check: the scan maps runtime IN keys through
      // the layout arithmetic and re-plans strictly fewer partitions
      val scan = new GraftBatchScan(spark, target, schema, schema, Array.empty)
      assert(scan.activeBuckets.size == 8)
      scan.filter(Array[Filter](In("k", Array(3L, 14L))))
      assert(scan.activeBuckets.nonEmpty && scan.activeBuckets.size < 8,
        s"mor=$isMor active=${scan.activeBuckets}")
      assert(scan.planInputPartitions().length == scan.activeBuckets.size)
      // runtime filters are REPLACE-semantics per execution: a later call
      // with MORE keys recomputes coverage from the static baseline (a
      // re-executed plan whose dim side gained keys must not keep the old
      // narrower pruning), but never exceeds the static coverage
      val narrow = scan.activeBuckets
      scan.filter(Array[Filter](In("k", Array(3L, 14L, 77L, 140L))))
      assert(scan.activeBuckets.size >= narrow.size && scan.activeBuckets.size <= 4)
      assert(scan.activeBuckets.toSet.subsetOf((0 until 8).toSet))
      // and dropping back to fewer keys re-narrows (no sticky state)
      scan.filter(Array[Filter](In("k", Array(3L, 14L))))
      assert(scan.activeBuckets == narrow)

      // end-to-end: the dim-join answer equals the expected subset, and the
      // executed plan shows the runtime-pruned ratio on the Batch leg.
      // Parquet dim: a literal frame folds to a LocalRelation, and dynamic
      // pruning requires a selective FILTER on the dim side.
      val dimPath = Files.createTempDirectory("graft_dsv2").toString + "/dim"
      Seq((3L, "hot"), (14L, "hot"), (11L, "cold")).toDF("dk", "flag")
        .repartition(1).write.parquet(dimPath)
      val dim = spark.read.parquet(dimPath)
      val q = read(target).join(dim, $"k" === $"dk")
        .filter($"flag" === "hot").select($"k", $"bal")
      q.queryExecution.toRdd.count()
      val plan = q.queryExecution.executedPlan.toString
      val m = """GraftBatchScan \S+ runtime-filterable buckets=(\d+)/(\d+)""".r
        .findFirstMatchIn(plan).getOrElse(fail(s"no batch scan in:\n$plan"))
      assert(m.group(1).toInt < m.group(2).toInt, plan)
      val got = q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      val want = expected.filter($"k".isin(3L, 14L)).select($"k", $"bal")
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got == want, s"mor=$isMor")
      assert(got.nonEmpty)
    }
  }

  test("batch leg: full reads (no static pruning) serve exact state on both storages") {
    for (isMor <- Seq(false, true)) {
      val target = newDir()
      build(target, mor = isMor)
      val df = read(target)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("GraftBatchScan"), s"mor=$isMor full scans take the Batch leg:\n$plan")
      val got = df.drop("_graft_pos").as[Acct].collect().toSet
      assert(got == expected.as[Acct].collect().toSet, s"mor=$isMor")
    }
    // statically-pruned reads take the same scan, pruned to the key's bucket
    val target = newDir()
    build(target)
    val pruned = read(target).filter($"k" === 3L)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("GraftBatchScan") && !plan.contains("GraftRelation("), plan)
    assert(plan.contains("buckets=1/8"), plan)
    assert(pruned.count() == 1)
  }

  test("batch leg: additive evolution serves NULL for old files; contradictory " +
      "runtime keys plan zero partitions") {
    import org.apache.spark.sql.sources.In
    // evolve AFTER the first batch: bucket files have mixed schemas and the
    // Batch leg's per-file clipping must surface NULL, exactly like the V1 read
    val target = newDir()
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(accts(50), $"k" * 10),
      target, opts)
    val extra = accts(50).filter($"k" <= 5).withColumn("note", concat(lit("n"), $"k"))
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(extra, $"k" * 10 + 5),
      target, opts)
    val df = read(target)
    assert(df.queryExecution.executedPlan.toString.contains("GraftBatchScan"))
    val got = df.select($"k", $"note").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toMap
    assert(got(3L) == Some("n3") && got(40L) == None && got.size == 50)

    // a runtime filter whose keys hash to no live bucket plans ZERO partitions
    val schema = GraftTable.tableSchema(spark, target)
    val scan = new GraftBatchScan(spark, target, schema, schema, Array.empty)
    val all = scan.activeBuckets.size
    scan.filter(Array[Filter](In("k", Array[Any]()), In("k", Array(3L))))
    // empty IN ∩ {3} = empty value set -> zero covered buckets
    assert(scan.activeBuckets.isEmpty && scan.planInputPartitions().isEmpty,
      s"all=$all active=${scan.activeBuckets}")
  }

  test("aggregate pushdown: tombstone-free cow answers from footers; " +
      "tombstones, mor, and filters all refuse") {
    // insert-only cow: COUNT/MIN/MAX must plan footer-only
    val clean = newDir()
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(accts(200), $"k" * 10),
      clean, opts)
    val q = read(clean).agg(count(lit(1)).as("n"), min($"bal").as("mn"),
      max($"k").as("mx"))
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("GraftAggRelation(") && !p.contains("GraftRelation("), p)
    val r = q.collect()(0)
    assert((r.getLong(0), r.getDouble(1), r.getLong(2)) == (200L, 1.5, 200L))

    // the SAME query against a tombstone-bearing cow must refuse (footer
    // counts cannot subtract deletes) and still answer correctly
    val tomb = newDir()
    build(tomb) // has %11 deletes -> tombstones until compact
    val q2 = read(tomb).agg(count(lit(1)).as("n"))
    val p2 = q2.queryExecution.executedPlan.toString
    assert(!p2.contains("GraftAggRelation("), p2)
    assert(q2.collect()(0).getLong(0) == expected.count())

    // mor refuses (resolution changes the answer)
    val mor = newDir()
    build(mor, mor = true)
    val q3 = read(mor).agg(count(lit(1)).as("n"))
    assert(!q3.queryExecution.executedPlan.toString.contains("GraftAggRelation("))
    assert(q3.collect()(0).getLong(0) == expected.count())

    // any filter refuses (the engine keeps authoritative evaluation above)
    val q4 = read(clean).filter($"grp" === 1L).agg(count(lit(1)).as("n"))
    assert(!q4.queryExecution.executedPlan.toString.contains("GraftAggRelation("))
  }

  test("limit pushdown caps the inner scan and stays partial") {
    val target = newDir()
    build(target)
    val df = read(target).limit(5)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("limit=5"), p)
    assert(df.count() == 5)
    // a limit larger than the table changes nothing
    assert(read(target).limit(10000).count() == expected.count())
  }

  test("pushed filters appear in the physical plan (explain surface)") {
    val target = newDir()
    build(target)
    val df = read(target).filter($"k".isin(3L, 14L) && $"bal" > 1.0)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PushedFilters"), plan)
    assert(plan.contains("In(k"), plan)
    assert(plan.contains("GraftBatchScan") && !plan.contains("GraftRelation"), plan)
    assert("""buckets=(\d+)/8""".r.findFirstMatchIn(plan).exists(_.group(1).toInt <= 2),
      plan)
  }

  test("a fresh applyBatch is visible to an existing reader plan (no stale listing)") {
    val target = newDir()
    build(target)
    val df = read(target) // table resolved once, like a mapped view
    val before = df.count()
    val extra = Seq((9001L, 1L, 1.0, "t9")).toDF("k", "grp", "bal", "tag")
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(extra, lit(100000L)), target, opts)
    assert(df.count() == before + 1)
  }

  test("CREATE TABLE ... USING graft: a plain SQL session reads the target by name") {
    val target = newDir()
    build(target)
    spark.sql("DROP TABLE IF EXISTS graft_accts")
    spark.sql(s"CREATE TABLE graft_accts USING graft OPTIONS (path '$target')")
    try {
      val got = spark.sql("SELECT bal FROM graft_accts WHERE k = 14")
        .as[Double].collect().toSeq
      assert(got == Seq(14 * 1.5 * 2)) // k=14 is %7-repriced
    } finally spark.sql("DROP TABLE IF EXISTS graft_accts")
  }

  test("asOfPos: mor time travel through the connector, with snapshotAsOf's guards") {
    val target = newDir()
    val one = Seq((1L, 1L, 10.0, "t0")).toDF("k", "grp", "bal", "tag")
    CdcApplier.applyBatchMor(spark, ChangeFeed.inserts(one, lit(100L)), target, opts)
    CdcApplier.applyBatchMor(spark,
      ChangeFeed.updates(one, Map("bal" -> lit(999.0)), lit(200L)), target, opts)
    def at(pos: Long) = spark.read.format("graft")
      .option("asOfPos", pos).load(target).select($"bal").as[Double].collect().toSeq
    assert(at(150L) == Seq(10.0)) // pre-update state
    assert(at(250L) == Seq(999.0)) // post-update state
    // compaction collapses history; a pre-floor position is REFUSED
    CdcApplier.compactMor(spark, target)
    val e = intercept[Exception] { at(150L) }
    assert(e.getMessage.contains("retained history"), e.getMessage)
    // cow layouts have no history to travel
    val cow = newDir()
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(one, lit(10L)), cow, opts)
    val e2 = intercept[Exception] {
      spark.read.format("graft").option("asOfPos", 5L).load(cow).collect()
    }
    assert(e2.getMessage.contains("copy-on-write"), e2.getMessage)
  }

  test("changesFrom: envelope reads through the connector, with changeFeed's guards") {
    val target = newDir()
    val one = Seq((1L, 1L, 10.0, "t0")).toDF("k", "grp", "bal", "tag")
    CdcApplier.applyBatchMor(spark, ChangeFeed.inserts(one, lit(100L)), target, opts)
    CdcApplier.applyBatchMor(spark,
      ChangeFeed.updates(one, Map("bal" -> lit(999.0)), lit(200L)), target, opts)
    val feed = spark.read.format("graft").option("changesFrom", 150L).load(target)
    assert(feed.columns.toSeq == Seq("op", "next_position", "before", "after"))
    val rows = feed.select($"op", $"next_position", $"before.bal", $"after.bal")
      .as[(String, Long, Option[Double], Option[Double])].collect().toSeq
    assert(rows == Seq(("update", 200L, Some(10.0), Some(999.0))), rows.toString)
    // the two read modes are mutually exclusive
    val e = intercept[Exception] {
      spark.read.format("graft").option("changesFrom", 0L)
        .option("asOfPos", 100L).load(target).collect()
    }
    assert(e.getMessage.contains("mutually exclusive"), e.getMessage)
    // compaction collapses the version chain; a pre-floor cursor is refused
    CdcApplier.compactMor(spark, target)
    val e2 = intercept[Exception] {
      spark.read.format("graft").option("changesFrom", 150L).load(target).collect()
    }
    assert(e2.getMessage.contains("retained history"), e2.getMessage)
  }

  test("empty target (meta only, no buckets) reads as typed empty table") {
    val target = newDir()
    val one = Seq((1L, 1L, 10.0, "t0")).toDF("k", "grp", "bal", "tag")
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(one, lit(10L)), target, opts)
    CdcApplier.applyBatch(spark, ChangeFeed.deletes(one, lit(20L)), target, opts)
    CdcApplier.compact(spark, target, horizonPos = 100L)
    val df = read(target)
    assert(df.count() == 0)
    assert(df.columns.contains("k"))
  }
}
