package graft.cdc

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.scalatest.funsuite.AnyFunSuite

/** File-level data-skipping statistics (q250): sidecar collection at every
  * publish path, the min/max matcher's algebra, and end-to-end skipping
  * through both connector legs — including survival across
  * compact/optimize/rebucket (the round-12 ask's spec pins). */
class FileStatsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  private def newDir(): String =
    Files.createTempDirectory("graft_fstats").toString + "/t"

  private def fsOf(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def accts(n: Int) =
    spark.range(1, n + 1).select(
      $"id".as("k"), ($"id" % 7).cast("long").as("grp"),
      ($"id" * 1.5).as("bal"), concat(lit("s"), $"id" % 5).as("tag"))

  private val opts = CdcApplier.Options(Seq("k"), numBuckets = 4)

  test("publish writes sidecars; entries carry ranges, nulls, rows") {
    val dir = newDir()
    CdcApplier.applyBatch(spark,
      ChangeFeed.inserts(accts(100).withColumn("maybe",
        when($"k" % 2 === 0, $"bal")), $"k" * 10), dir, opts)
    val fs = fsOf(dir)
    val buckets = CdcApplier.bucketIds(fs, new Path(dir))
    assert(buckets.nonEmpty)
    buckets.foreach { b =>
      val bd = new Path(dir, s"${CdcApplier.BUCKET}=$b")
      val side = FileStats.readSidecar(fs, bd)
      val files = fs.listStatus(bd).filter(st => st.isFile &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
      assert(side.nonEmpty && side.size == files.length, s"bucket $b")
      side.values.foreach { e =>
        assert(e.rows > 0)
        // tracked kinds present: long key, double bal, string tag; the
        // nullable double records its null count
        assert(e.cols.contains("k") && e.cols.contains("bal") && e.cols.contains("tag"))
        val k = e.cols("k")
        assert(k.kind == 'i' && k.mn.isDefined && k.mx.isDefined && k.nulls == 0)
        assert(k.mn.get.toLong <= k.mx.get.toLong)
      }
      val nulls = side.values.map(_.cols("maybe").nulls).sum
      val rows = side.values.map(_.rows).sum
      assert(nulls > 0 && nulls < rows, s"bucket $b: $nulls/$rows")
    }
  }

  test("matcher algebra: ranges, nulls, IN, strings, AND/OR, unknowns keep") {
    import FileStats.{ColStats, FileEntry}
    def b64(s: String) = java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    val e = FileEntry(10, Map(
      "k"   -> ColStats('i', 0, Some("100"), Some("200")),
      "px"  -> ColStats('d', 2, Some("1.5"), Some("9.75")),
      "tag" -> ColStats('s', 0, Some(b64("apple")), Some(b64("mango"))),
      "dead"-> ColStats('i', 10, None, None)))
    def m(f: Filter) = FileStats.mayMatch(e, f)
    // range exclusion / inclusion
    assert(!m(EqualTo("k", 99L)) && m(EqualTo("k", 100L)) && m(EqualTo("k", 150L)))
    assert(!m(GreaterThan("k", 200L)) && m(GreaterThanOrEqual("k", 200L)))
    assert(!m(LessThan("k", 100L)) && m(LessThanOrEqual("k", 100L)))
    assert(!m(In("k", Array(1L, 99L, 201L))) && m(In("k", Array(1L, 150L))))
    assert(!m(In("k", Array[Any]())))
    // doubles
    assert(!m(GreaterThan("px", 9.75)) && m(GreaterThan("px", 9.0)))
    // nulls
    assert(m(IsNull("px")) && !m(IsNull("k")) && !m(IsNotNull("dead")))
    assert(!m(EqualTo("dead", 5L)), "an all-null column never equals a value")
    assert(m(IsNull("dead")))
    // strings: unsigned byte-lexicographic, prefix pruning
    assert(!m(EqualTo("tag", "zebra")) && m(EqualTo("tag", "banana")))
    assert(m(StringStartsWith("tag", "ba")) && !m(StringStartsWith("tag", "z")))
    assert(!m(StringStartsWith("tag", "aa")), "prefix below the min prunes")
    // boolean algebra
    assert(!m(And(EqualTo("k", 150L), EqualTo("tag", "zebra"))))
    assert(m(Or(EqualTo("k", 999L), EqualTo("tag", "banana"))))
    assert(!m(Or(EqualTo("k", 999L), EqualTo("tag", "zebra"))))
    // unknown column / untranslatable filter / Not: keep
    assert(m(EqualTo("ghost", 1L)))
    assert(m(Not(EqualTo("k", 150L))))
    // unset null count (-1, legal in the format) is UNKNOWN, never zero:
    // null tests keep the file, the value range still prunes
    val eU = FileEntry(10, Map("u" -> ColStats('i', -1, Some("1"), Some("5"))))
    assert(FileStats.mayMatch(eU, IsNull("u")) && FileStats.mayMatch(eU, IsNotNull("u")))
    assert(!FileStats.mayMatch(eU, EqualTo("u", 9L)))
  }

  test("clustered optimize makes non-key skipping fire on the Batch leg; " +
      "results exact; stats survive compact + optimize + rebucket") {
    val dir = newDir()
    // several batches so buckets hold several files with overlapping ranges
    val rows = accts(400)
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(rows, $"k" * 10), dir, opts)
    CdcApplier.applyBatch(spark,
      ChangeFeed.updates(rows.filter($"k" % 3 === 0),
        Map("bal" -> ($"bal" + 1000.0)), $"k" * 10 + 5), dir, opts)
    // delete a few, then drop their tombstones: stats must survive compact
    CdcApplier.applyBatch(spark,
      ChangeFeed.deletes(rows.filter($"k" % 97 === 0), $"k" * 10 + 7), dir, opts)
    CdcApplier.compact(spark, dir, 400 * 10 + 7)
    // cluster by the NON-KEY column with small bins → many tight files
    val touched = CdcApplier.optimize(spark, dir, targetFileBytes = 4L << 10,
      clusterBy = Seq("bal"))
    assert(touched.nonEmpty)
    val fs = fsOf(dir)
    val perBucket = CdcApplier.bucketIds(fs, new Path(dir)).map { b =>
      fs.listStatus(new Path(dir, s"${CdcApplier.BUCKET}=$b"))
        .count(st => st.isFile && !st.getPath.getName.startsWith("_") &&
          !st.getPath.getName.startsWith("."))
    }
    assert(perBucket.sum > perBucket.length, s"clustering should multi-file: $perBucket")

    // non-key predicate on the Batch leg (no static bucket pruning) must
    // read strictly fewer files than the target holds, with exact results
    def q = spark.read.format("graft").load(dir).filter($"bal" > 1400.0)
      .select($"k", $"bal")
    val df = q
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan.toString
    val m = """GraftBatchScan \S+ runtime-filterable buckets=\d+/\d+ files=(\d+)/(\d+)""".r
      .findFirstMatchIn(plan).getOrElse(fail(s"no files ratio in:\n$plan"))
    assert(m.group(1).toInt < m.group(2).toInt, plan)
    val expect = CdcApplier.snapshot(spark, dir).filter($"bal" > 1400.0)
      .select($"k", $"bal").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet == expect)
    assert(expect.nonEmpty)

    // rebucket: sidecars regenerated for the re-hashed layout
    CdcApplier.rebucket(spark, dir, 8)
    CdcApplier.bucketIds(fs, new Path(dir)).foreach { b =>
      assert(FileStats.readSidecar(fs, new Path(dir, s"${CdcApplier.BUCKET}=$b")).nonEmpty,
        s"bucket $b lost its sidecar after rebucket")
    }
    val after = spark.read.format("graft").load(dir).filter($"bal" > 1400.0)
      .select($"k", $"bal").collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(after == expect, "rebucket must not change the served state")
  }

  test("merge-on-read: PK-range skipping over time-correlated deltas; " +
      "non-key predicates never skip mor files") {
    val dir = newDir()
    val morOpts = CdcApplier.Options(Seq("k"), numBuckets = 4)
    // three key-banded batches — the auto-increment-PK shape: each delta
    // file's key range is tight, so a recent-keys range query skips the
    // historical files even though hash bucketing cannot prune
    val all = accts(300)
    CdcApplier.applyBatchMor(spark,
      ChangeFeed.inserts(all.filter($"k" <= 100), $"k" * 10), dir, morOpts)
    CdcApplier.applyBatchMor(spark,
      ChangeFeed.inserts(all.filter($"k" > 100 && $"k" <= 200), $"k" * 10), dir, morOpts)
    CdcApplier.applyBatchMor(spark,
      ChangeFeed.inserts(all.filter($"k" > 200), $"k" * 10), dir, morOpts)
    val df = spark.read.format("graft").load(dir)
      .filter($"k" > 250L).select($"k", $"bal")
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan.toString
    val m = """GraftBatchScan \S+ runtime-filterable buckets=\d+/\d+ files=(\d+)/(\d+)""".r
      .findFirstMatchIn(plan).getOrElse(fail(s"no files ratio in:\n$plan"))
    assert(m.group(1).toInt < m.group(2).toInt, plan)
    assert(df.count() == 50)

    // a NON-key predicate must not skip mor files (a skipped file could
    // hold a key's winning version) — files ratio reads full
    val nk = spark.read.format("graft").load(dir)
      .filter($"bal" > 300.0).select($"k", $"bal")
    nk.queryExecution.toRdd.count()
    val nkPlan = nk.queryExecution.executedPlan.toString
    val nm = """files=(\d+)/(\d+)""".r.findFirstMatchIn(nkPlan)
    nm.foreach(x => assert(x.group(1) == x.group(2),
      s"non-key predicates must not file-skip on mor:\n$nkPlan"))
  }

  test("change feed: POS stats skip historical delta files for discovery; " +
      "envelopes complete (before-images from the full chain)") {
    val dir = newDir()
    val morOpts = CdcApplier.Options(Seq("k"), numBuckets = 2)
    val rows = accts(60)
    CdcApplier.applyBatchMor(spark, ChangeFeed.inserts(rows, lit(100L)), dir, morOpts)
    CdcApplier.applyBatchMor(spark,
      ChangeFeed.updates(rows.filter($"k" % 3 === 0),
        Map("bal" -> ($"bal" * 2.0)), lit(200L)), dir, morOpts)
    CdcApplier.applyBatchMor(spark,
      ChangeFeed.deletes(rows.filter($"k" % 10 === 0), lit(300L)), dir, morOpts)
    val fs = fsOf(dir)
    // selection level: a cursor past batch 2 skips batches 1+2's delta files
    val perBucket = CdcApplier.bucketIds(fs, new Path(dir)).map { b =>
      FileStats.selectBucketFiles(fs, new Path(dir, s"${CdcApplier.BUCKET}=$b"),
        Seq(GreaterThan(CdcApplier.POS, 200L)))
    }
    assert(perBucket.forall { case (kept, total) => kept.size < total },
      s"historical delta files must skip: ${perBucket.map(p => (p._1.size, p._2))}")
    // feed level: the envelope from the skipped-discovery read is COMPLETE —
    // updates carry before-images from older (skipped-for-discovery) files
    val feed = CdcApplier.changeFeed(spark, dir, 200L)
      .select($"op", $"next_position", $"before.k".as("bk"), $"after.k".as("ak"))
      .collect()
    val deletes = feed.filter(_.getString(0) == "delete")
    assert(deletes.length == 6 && deletes.forall(r => !r.isNullAt(2)),
      "deletes must carry before-images reconstructed from the full chain")
    assert(feed.forall(_.getLong(1) == 300L))
    // and a mid-history cursor still reconstructs update before-images
    val feed2 = CdcApplier.changeFeed(spark, dir, 150L)
      .filter($"op" === "update").select($"before.bal".as("bb"), $"after.bal".as("ab"))
      .collect()
    assert(feed2.nonEmpty && feed2.forall(r => r.getDouble(1) == r.getDouble(0) * 2.0),
      "update before-images must come from the older files")
  }

  test("one scan: combined PK + non-key predicate skips within the pruned bucket") {
    val dir = newDir()
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(accts(400), $"k" * 10), dir, opts)
    CdcApplier.optimize(spark, dir, targetFileBytes = 4L << 10, clusterBy = Seq("bal"))
    // PK IN-list prunes buckets; the non-key conjunct then skips files
    // inside the covered buckets
    val df = spark.read.format("graft").load(dir)
      .filter($"k".isin(3L, 14L, 77L) && $"bal" > 1e9)
    df.queryExecution.toRdd.count()
    val plan = df.queryExecution.executedPlan.toString
    val b = """buckets=(\d+)/(\d+)""".r.findFirstMatchIn(plan)
      .getOrElse(fail(s"no buckets ratio in:\n$plan"))
    assert(plan.contains("GraftBatchScan") && !plan.contains("GraftRelation("), plan)
    assert(b.group(1).toInt <= 3 && b.group(1).toInt < b.group(2).toInt,
      s"the IN-list must prune buckets:\n$plan")
    val m = """files=(\d+)/(\d+)""".r.findFirstMatchIn(plan)
      .getOrElse(fail(s"no files ratio in:\n$plan"))
    assert(m.group(1).toInt == 0, s"bal > 1e9 excludes every file:\n$plan")
    assert(df.count() == 0)
    // and the satisfiable variant still serves the exact rows
    val hit = spark.read.format("graft").load(dir)
      .filter($"k".isin(3L, 14L, 77L) && $"bal" > 0.0)
    assert(hit.select($"k").as[Long].collect().toSet == Set(3L, 14L, 77L))
  }
}
