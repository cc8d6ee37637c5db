package graft.cdc

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

case class Student(sn: Int, id: Int, score: Int, name: String, rem: String)

/** FIXTURES.md F3 scenarios over the reference's own `student` example
  * (composite PK (sn,id), `Mysql2HbaseCliDriver.scala:41-48`). */
class CdcApplierSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  import spark.implicits._

  /** `buckets=k/n` of the plan's connector scan with k < n: the read
    * touched a strict subset of the table's bucket directories. */
  private def strictlyPruned(p: String): Boolean =
    """GraftBatchScan \S+ runtime-filterable buckets=(\d+)/(\d+)""".r.findFirstMatchIn(p)
      .exists(m => m.group(1).toInt < m.group(2).toInt)

  private val pk = Seq("sn", "id")
  private def opts = CdcApplier.Options(pk)

  private def ev(op: String, pos: Long, before: Option[Student], after: Option[Student]): DataFrame = {
    val base = Seq(Student(0, 0, 0, "", "")).toDF()
    val b = before.map(x => Seq(x).toDF()).getOrElse(base.filter(lit(false)))
    val a = after.map(x => Seq(x).toDF()).getOrElse(base.filter(lit(false)))
    op match {
      case "insert" => ChangeFeed.inserts(a, lit(pos))
      case "delete" => ChangeFeed.deletes(b, lit(pos))
      case "update" =>
        // before-row with after-image overrides, column by column
        val aRow = after.get
        ChangeFeed.updates(b, Map(
          "sn" -> lit(aRow.sn), "id" -> lit(aRow.id), "score" -> lit(aRow.score),
          "name" -> lit(aRow.name), "rem" -> lit(aRow.rem)), lit(pos))
    }
  }

  private def newTarget(): String =
    Files.createTempDirectory("graft_test").toString + "/student"

  private def state(target: String): Set[Student] =
    CdcApplier.snapshot(spark, target).drop("_graft_pos").as[Student].collect().toSet

  val s1 = Student(1, 1, 90, "ann", "a")
  val s1v2 = Student(1, 1, 95, "ann", "b")
  val s2 = Student(2, 7, 80, "bob", "x")

  test("F3.1 insert → update (PK unchanged) → delete leaves empty state") {
    val target = newTarget()
    val feed = ev("insert", 10, None, Some(s1))
      .union(ev("update", 20, Some(s1), Some(s1v2)))
      .union(ev("delete", 30, Some(s1v2), None))
    CdcApplier.applyBatch(spark, feed, target, opts)
    assert(state(target).isEmpty)
  }

  test("F3.2 update that moves the PK: corrected mode deletes the old row, compat keeps it") {
    val moved = s1.copy(id = 99, score = 77)
    val feed = ev("insert", 10, None, Some(s1))
      .union(ev("insert", 11, None, Some(s2)))
      .union(ev("update", 20, Some(s1), Some(moved)))

    val corrected = newTarget()
    CdcApplier.applyBatch(spark, feed, corrected, opts)
    assert(state(corrected) == Set(moved, s2))

    val compat = newTarget()
    CdcApplier.applyBatch(spark, feed, compat, opts.copy(compatPkChange = true))
    // reference anomaly (HbaseApplier.scala:252-257): old row survives
    assert(state(compat) == Set(s1, moved, s2))
  }

  test("F3.3 duplicate replay converges (at-least-once)") {
    val target = newTarget()
    val feed = ev("insert", 10, None, Some(s1))
      .union(ev("update", 20, Some(s1), Some(s1v2)))
    CdcApplier.applyBatch(spark, feed, target, opts)
    CdcApplier.applyBatch(spark, feed, target, opts) // replay whole batch
    assert(state(target) == Set(s1v2))
  }

  test("F3.3b stale batch replayed after newer data does not regress rows") {
    val target = newTarget()
    val newer = ev("update", 20, Some(s1), Some(s1v2))
    val older = ev("insert", 10, None, Some(s1))
    CdcApplier.applyBatch(spark, newer, target, opts)
    CdcApplier.applyBatch(spark, older, target, opts) // out-of-order replay
    assert(state(target) == Set(s1v2))
  }

  test("F3.5 change missing a PK column is rejected") {
    val target = newTarget()
    val badAfter = Seq(Student(5, 5, 1, "x", "y")).toDF()
      .withColumn("id", lit(null).cast("int"))
    val feed = ChangeFeed.inserts(badAfter, lit(10L))
    val e = intercept[Exception] {
      CdcApplier.applyBatch(spark, feed, target, opts)
    }
    assert(e.getMessage != null)
  }

  test("F3.6 PK schema drift fails fast") {
    import org.apache.spark.sql.types._
    val target = StructType(Seq(StructField("sn", IntegerType), StructField("v", StringType)))
    val drifted = StructType(Seq(StructField("sn", LongType), StructField("v", StringType)))
    intercept[IllegalStateException] {
      CdcApplier.checkSchemaDrift(target, drifted, Seq("sn"))
    }
  }

  test("F3.7 multiple changes to one key in a batch: last position wins") {
    val target = newTarget()
    val feed = ev("insert", 10, None, Some(s1))
      .union(ev("update", 30, Some(s1), Some(s1v2)))
      .union(ev("update", 20, Some(s1), Some(s1.copy(score = 1))))
    CdcApplier.applyBatch(spark, feed, target, opts)
    assert(state(target) == Set(s1v2))
  }

  test("delete of an absent key is a no-op") {
    val target = newTarget()
    CdcApplier.applyBatch(spark, ev("insert", 10, None, Some(s2)), target, opts)
    CdcApplier.applyBatch(spark, ev("delete", 20, Some(s1), None), target, opts)
    assert(state(target) == Set(s2))
  }

  test("F3.10 crash recovery: an interrupted bucket swap is restored, not lost") {
    import org.apache.hadoop.fs.Path
    val target = newTarget()
    val rows = (1 to 32).map(i => Student(i, i, i, s"n$i", "r"))
    CdcApplier.applyBatch(spark,
      ChangeFeed.inserts(rows.toDF(), col("sn").cast("long") * 10), target, opts)

    // simulate a crash between swapDir's two renames: live dir gone, only
    // the hidden .bak holds the bucket's data
    val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucket = fs.listStatus(new Path(target))
      .filter(_.getPath.getName.startsWith("graft_bucket=")).head.getPath
    assert(fs.rename(bucket, new Path(target, "." + bucket.getName + ".bak")))

    // replaying any batch must first restore the backup, then merge
    CdcApplier.applyBatch(spark,
      ev("update", 1000, Some(rows.head), Some(rows.head.copy(score = 999))), target, opts)
    assert(state(target).size == 32, "no row of the interrupted bucket may be lost")
    assert(state(target).contains(rows.head.copy(score = 999)))

    // and a completed-swap leftover (.bak beside a live dir) is dropped
    val b2 = fs.listStatus(new Path(target))
      .filter(_.getPath.getName.startsWith("graft_bucket=")).head.getPath
    fs.mkdirs(new Path(target, "." + b2.getName + ".bak"))
    CdcApplier.applyBatch(spark,
      ev("update", 2000, Some(rows(1)), Some(rows(1).copy(score = 998))), target, opts)
    assert(state(target).size == 32)
    assert(!fs.listStatus(new Path(target)).exists(_.getPath.getName.endsWith(".bak")))
  }

  test("F3.11 empty target dir (crash before first publish) bootstraps instead of wedging") {
    import org.apache.hadoop.fs.Path
    val target = newTarget()
    val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(target)) // exists, but holds no bucket dirs
    CdcApplier.applyBatch(spark, ev("insert", 10, None, Some(s1)), target, opts)
    assert(state(target) == Set(s1))
  }

  test("S4 additive drift: a new non-key column evolves the target (NULL on old rows)") {
    val target = newTarget()
    CdcApplier.applyBatch(spark, ev("insert", 10, None, Some(s1)), target, opts)
    // upstream DDL added a column: later change batches carry it
    val widened = Seq(s2).toDF().withColumn("extra", lit("x"))
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(widened, lit(20L)), target, opts)
    val rows = CdcApplier.snapshot(spark, target)
      .select($"sn", $"extra").as[(Int, Option[String])].collect().toSet
    assert(rows == Set((1, None), (2, Some("x"))),
      "old rows must carry NULL in the evolved column, new rows their value")
  }

  test("S4 dropped / retyped non-key column fails with a named drift error") {
    val target = newTarget()
    CdcApplier.applyBatch(spark, ev("insert", 10, None, Some(s1)), target, opts)

    val dropped = Seq(s2).toDF().drop("rem")
    val e1 = intercept[IllegalStateException] {
      CdcApplier.applyBatch(spark, ChangeFeed.inserts(dropped, lit(20L)), target, opts)
    }
    assert(e1.getMessage.contains("schema drift") && e1.getMessage.contains("rem"))

    val retyped = Seq(s2).toDF().withColumn("score", $"score".cast("string"))
    val e2 = intercept[IllegalStateException] {
      CdcApplier.applyBatch(spark, ChangeFeed.inserts(retyped, lit(20L)), target, opts)
    }
    assert(e2.getMessage.contains("schema drift") && e2.getMessage.contains("score"))
  }

  test("layout metadata: a later run with a different numBuckets adopts the on-disk modulus") {
    import org.apache.hadoop.fs.Path
    val target = newTarget()
    val rows = (1 to 64).map(i => Student(i, i, i, s"n$i", "r"))
    CdcApplier.applyBatch(spark,
      ChangeFeed.inserts(rows.toDF(), col("sn").cast("long") * 10), target, opts) // 16 buckets
    // misconfigured second run: 4 buckets would hash keys into a different
    // layout and silently duplicate — the persisted modulus must win
    CdcApplier.applyBatch(spark,
      ev("update", 1000, Some(rows.head), Some(rows.head.copy(score = 999))),
      target, opts.copy(numBuckets = 4))
    assert(state(target).size == 64, "no duplicates / lost rows under a modulus change")
    assert(state(target).contains(rows.head.copy(score = 999)))
    val hconf = spark.sparkContext.hadoopConfiguration
    assert(CdcApplier.TargetMeta.read(hconf, new Path(target)).map(_.numBuckets).contains(16))
  }

  test("compact drops old tombstones, shrinks the snapshot, and below-horizon replays converge") {
    val target = newTarget()
    CdcApplier.applyBatch(spark, ev("insert", 10, None, Some(s1)), target, opts)
    CdcApplier.applyBatch(spark, ev("insert", 11, None, Some(s2)), target, opts)
    CdcApplier.applyBatch(spark, ev("delete", 30, Some(s1), None), target, opts)
    assert(spark.read.parquet(target).count() == 2, "tombstone + live row before compaction")

    val touched = CdcApplier.compact(spark, target, horizonPos = 30)
    assert(touched.nonEmpty)
    assert(spark.read.parquet(target).count() == 1, "tombstone physically dropped")
    assert(state(target) == Set(s2))

    // the stale insert of the deleted key replays from below the horizon:
    // without the horizon guard the dropped tombstone could not win the
    // position race and the delete would be resurrected
    CdcApplier.applyBatch(spark, ev("insert", 10, None, Some(s1)), target, opts)
    assert(state(target) == Set(s2), "below-horizon replay must not resurrect a compacted delete")

    // compacting again is a no-op
    assert(CdcApplier.compact(spark, target, horizonPos = 30).isEmpty)
  }

  test("compacting away every row leaves a readable, appendable empty target") {
    val target = newTarget()
    CdcApplier.applyBatch(spark, ev("insert", 10, None, Some(s1)), target, opts)
    CdcApplier.applyBatch(spark, ev("delete", 20, Some(s1), None), target, opts)
    CdcApplier.compact(spark, target, horizonPos = 20)
    // every bucket dir is gone — snapshot must be a typed empty table (from
    // the schema persisted in .graft_meta), not a parquet read error
    assert(state(target).isEmpty)
    assert(CdcApplier.compact(spark, target, horizonPos = 20).isEmpty) // no-op, no crash
    CdcApplier.applyBatch(spark, ev("insert", 30, None, Some(s2)), target, opts)
    assert(state(target) == Set(s2), "fully-compacted target must stay appendable")
  }

  test("F3.8 tombstone survives: stale upsert replayed after a delete stays dead") {
    val target = newTarget()
    CdcApplier.applyBatch(spark, ev("insert", 10, None, Some(s1)), target, opts)
    CdcApplier.applyBatch(spark, ev("delete", 30, Some(s1), None), target, opts)
    // a later batch replays the original insert (older position)
    CdcApplier.applyBatch(spark, ev("insert", 10, None, Some(s1)), target, opts)
    assert(state(target).isEmpty, "deleted row must not be resurrected by a stale upsert")
  }

  test("F3.9 incremental apply rewrites only the touched buckets") {
    import org.apache.hadoop.fs.Path
    val target = newTarget()
    // bootstrap: many keys spread across buckets
    val rows = (1 to 64).map(i => Student(i, i, i * 10, s"n$i", "r"))
    CdcApplier.applyBatch(spark,
      ChangeFeed.inserts(rows.toDF(), col("sn").cast("long") * 10), target, opts)

    val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bucketFiles(): Map[String, Seq[(String, Long, Long)]] =
      fs.listStatus(new Path(target))
        // bucket DATA dirs only: `.graft_commits` (the q257 fence's marker
        // dir) legitimately changes on every publish
        .filter(d => d.isDirectory && !d.getPath.getName.startsWith("."))
        .map { d =>
          d.getPath.getName ->
            fs.listStatus(d.getPath).map(f =>
              (f.getPath.getName, f.getLen, f.getModificationTime)).toSeq.sortBy(_._1)
        }.toMap
    val before = bucketFiles()
    assert(before.size > 1, "need multiple buckets for the test to mean anything")

    // second batch: update a single key -> touches exactly one bucket
    CdcApplier.applyBatch(spark,
      ev("update", 1000, Some(rows.head), Some(rows.head.copy(score = 999))), target, opts)
    val after = bucketFiles()

    val changed = after.keySet.filter(k => before.get(k) != after.get(k))
    assert(changed.size == 1, s"exactly one bucket should be rewritten, got $changed")
    assert(state(target).contains(rows.head.copy(score = 999)))
    assert(state(target).size == 64)
  }

  test("pointLookup: composite PK, key-frame column order irrelevant, tombstones absent") {
    val target = newTarget()
    val rows = (1 to 32).map(i => Student(i, i * 7, i * 10, s"n$i", "r"))
    CdcApplier.applyBatch(spark,
      ChangeFeed.inserts(rows.toDF(), col("sn").cast("long") * 10), target, opts)
    CdcApplier.applyBatch(spark, ev("delete", 1000, Some(rows(1)), None), target, opts)

    // keys: one live, one deleted, one never inserted — pk is (sn, id)
    val keys = Seq((1, 7), (2, 14), (99, 99)).toDF("sn", "id")
    val got = CdcApplier.pointLookup(spark, target, keys)
      .drop("_graft_pos").as[Student].collect().toSet
    assert(got == Set(rows.head), s"got $got")

    // the caller's column ORDER must not change bucket targeting — the
    // persisted pk order governs the hash (a wrong order would silently
    // prune the wrong dirs and return nothing)
    val reordered = Seq((7, 1)).toDF("id", "sn")
    val got2 = CdcApplier.pointLookup(spark, target, reordered)
      .drop("_graft_pos").as[Student].collect().toSet
    assert(got2 == Set(rows.head), s"reordered key frame must still hit: $got2")

    // an empty key batch returns an empty, correctly-typed frame
    val none = CdcApplier.pointLookup(spark, target, keys.limit(0))
    assert(none.count() == 0 && none.columns.contains("score"))

    // a key set that is not the target's PK is an error, not a wrong answer
    val e = intercept[IllegalArgumentException](
      CdcApplier.pointLookup(spark, target, Seq(1).toDF("sn")))
    assert(e.getMessage.contains("target PK"))
  }

  test("pointLookup: composite PK pushes per-column IN-lists into the scan") {
    val target = newTarget()
    val rows = (1 to 32).map(i => Student(i, i * 7, i * 10, s"n$i", "r"))
    CdcApplier.applyBatch(spark,
      ChangeFeed.inserts(rows.toDF(), col("sn").cast("long") * 10), target, opts)
    val keys = Seq((1, 7), (3, 21)).toDF("sn", "id")
    val df = CdcApplier.pointLookup(spark, target, keys)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // row-group pruning must engage on EVERY pk column: the conjunction of
    // per-column IN-lists is a superset of the key tuples (exactness is the
    // broadcast semi-join's job), so both columns reach PushedFilters
    assert(p.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("In(sn") && l.contains("In(id")),
      s"both PK columns' IN-lists must reach PushedFilters:\n$p")
    // and the superset filter must not change the answer
    assert(df.drop("_graft_pos").as[Student].collect().toSet ==
      Set(rows.head, rows(2)))
  }

  test("prefix-bucketed layout (Options.bucketCols): prefix scan, Get, drift guard, PK-move retire") {
    val target = newTarget()
    val popts = CdcApplier.Options(pk, bucketCols = Some(Seq("sn")))
    // several rows per sn — the index shape: bucket key is a PK prefix
    val rows = for (sn <- 1 to 8; j <- 1 to 3) yield Student(sn, sn * 100 + j, j, s"n$sn-$j", "r")
    CdcApplier.applyBatch(spark,
      ChangeFeed.inserts(rows.toDF(), (col("sn") * 100 + col("id")).cast("long")), target, popts)

    // prefix lookup by sn alone returns ALL rows under the prefix
    val scan = CdcApplier.pointLookup(spark, target, Seq(3).toDF("sn"))
    assert(scan.drop("_graft_pos").as[Student].collect().toSet ==
      rows.filter(_.sn == 3).toSet)
    // ...and is bucket-pruned + row-group-pruned on the prefix column
    val p = scan.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(strictlyPruned(p), s"prefix lookup must prune bucket dirs:\n$p")
    assert(p.linesIterator.exists(l => l.contains("PushedFilters") &&
        (l.contains("In(sn") || l.contains("EqualTo(sn"))),
      s"prefix column literal filter must reach PushedFilters:\n$p")

    // full-key Get still works on the prefix-bucketed layout
    val got = CdcApplier.pointLookup(spark, target, Seq((3, 302)).toDF("sn", "id"))
      .drop("_graft_pos").as[Student].collect().toSet
    assert(got == Set(Student(3, 302, 2, "n3-2", "r")))

    // meta persists the bucket layout; a later writer configured without it
    // (defaulting to full-PK hashing) ADOPTS the persisted prefix layout
    val meta = CdcApplier.TargetMeta.read(
      spark.sparkContext.hadoopConfiguration, new org.apache.hadoop.fs.Path(target))
    assert(meta.flatMap(_.bucketCols).contains(Seq("sn")))
    // ...but an explicitly CONTRADICTORY bucket layout is drift, not adoption
    val e = intercept[IllegalStateException](CdcApplier.applyBatch(spark,
      ev("insert", 5000, None, Some(Student(9, 901, 1, "x", "r"))), target,
      CdcApplier.Options(pk, bucketCols = Some(Seq("id")))))
    assert(e.getMessage.contains("bucket-layout drift"))

    // a bucket-prefix-moving update (sn changes) retires the old entry —
    // the S10 fan-out serving the secondary-index maintenance path
    CdcApplier.applyBatch(spark,
      ev("update", 6000, Some(Student(3, 302, 2, "n3-2", "r")),
        Some(Student(7, 302, 2, "n3-2", "r"))), target, popts)
    assert(CdcApplier.pointLookup(spark, target, Seq(3).toDF("sn"))
      .as[Student].collect().forall(_.id != 302), "old prefix entry must be retired")
    assert(CdcApplier.pointLookup(spark, target, Seq(7).toDF("sn"))
      .as[Student].collect().exists(_.id == 302), "moved entry must appear under the new prefix")

    // bucketCols not a subset of the PK is rejected at creation
    val e2 = intercept[IllegalArgumentException](CdcApplier.applyBatch(spark,
      ev("insert", 1, None, Some(s1)), newTarget(),
      CdcApplier.Options(pk, bucketCols = Some(Seq("score")))))
    assert(e2.getMessage.contains("subset"))
  }

  test("merge-on-read: deltas append-only, resolve-on-read, compaction, mode guards") {
    import org.apache.hadoop.fs.Path
    val target = newTarget()
    val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(): Set[String] =
      if (!fs.exists(new Path(target))) Set.empty
      else fs.listStatus(new Path(target))
        // bucket DATA dirs only — the q257 fence's `.graft_commits` marker
        // dir changes on every publish by design
        .filter(d => d.isDirectory && !d.getPath.getName.startsWith("."))
        .flatMap(d => fs.listStatus(d.getPath).map(_.getPath.toString)).toSet

    val rows = (1 to 24).map(i => Student(i, i * 7, i * 10, s"n$i", "r"))
    CdcApplier.applyBatchMor(spark,
      ChangeFeed.inserts(rows.toDF(), col("sn").cast("long") * 10), target, opts)
    val afterB1 = files()
    assert(afterB1.nonEmpty)

    // batch 2: update one row, delete another — APPEND-ONLY: every batch-1
    // file must still be present, byte-identical by name
    CdcApplier.applyBatchMor(spark,
      ev("update", 500, Some(rows(0)), Some(rows(0).copy(score = 99))), target, opts)
    CdcApplier.applyBatchMor(spark,
      ev("delete", 600, Some(rows(1)), None), target, opts)
    val afterB3 = files()
    assert(afterB1.subsetOf(afterB3), "mor applies must never rewrite existing files")
    assert(afterB3.size > afterB1.size)

    // resolve-on-read: latest update wins, tombstoned key gone
    val st = state(target)
    assert(st.contains(rows(0).copy(score = 99)) && !st.exists(_.sn == 2))
    assert(st.size == 23)

    // point lookup resolves too: stale upsert must not outlive the tombstone
    assert(CdcApplier.pointLookup(spark, target, Seq((2, 14)).toDF("sn", "id"))
      .count() == 0)
    assert(CdcApplier.pointLookup(spark, target, Seq((1, 7)).toDF("sn", "id"))
      .drop("_graft_pos").as[Student].collect().toSet == Set(rows(0).copy(score = 99)))

    // compaction: same visible state, fewer or equal files, then another
    // delta on top still resolves
    CdcApplier.compactMor(spark, target)
    assert(state(target) == st, "compaction must not change the visible state")
    assert(files().size <= afterB3.size)
    CdcApplier.applyBatchMor(spark,
      ev("update", 700, Some(rows(2)), Some(rows(2).copy(name = "zz"))), target, opts)
    assert(state(target).contains(rows(2).copy(name = "zz")))

    // mode guards, both directions
    val e1 = intercept[IllegalStateException](CdcApplier.applyBatch(spark,
      ev("insert", 900, None, Some(s1)), target, opts))
    assert(e1.getMessage.contains("merge-on-read"))
    val cow = newTarget()
    CdcApplier.applyBatch(spark, ev("insert", 1, None, Some(s1)), cow, opts)
    val e2 = intercept[IllegalStateException](CdcApplier.applyBatchMor(spark,
      ev("insert", 2, None, Some(s2)), cow, opts))
    assert(e2.getMessage.contains("copy-on-write"))

    // tombstone compaction on mor first collapses versions (no resurrection):
    // drop the sn=2 tombstone; the key must STAY deleted
    CdcApplier.compact(spark, target, 650)
    assert(!state(target).exists(_.sn == 2),
      "horizon compaction must not resurrect a deleted key from stale deltas")
  }

  test("snapshotAsOf: mid-history reconstruction, collapse floor, cow rejection") {
    val target = newTarget()
    val rows = (1 to 12).map(i => Student(i, i * 7, i * 10, s"n$i", "r"))
    CdcApplier.applyBatchMor(spark,
      ChangeFeed.inserts(rows.toDF(), col("sn").cast("long") * 10), target, opts)
    CdcApplier.applyBatchMor(spark,
      ev("update", 1000, Some(rows(0)), Some(rows(0).copy(score = 77))), target, opts)
    CdcApplier.applyBatchMor(spark,
      ev("delete", 1100, Some(rows(2)), None), target, opts)

    // as of the end of batch 1: original score, deleted key still present
    val asOf = CdcApplier.snapshotAsOf(spark, target, 500)
      .drop("_graft_pos").as[Student].collect().toSet
    assert(asOf == rows.toSet, s"as-of must reconstruct batch-1 state: $asOf")
    // as of mid-batch-2 history: update visible, delete not yet
    val asOf2 = CdcApplier.snapshotAsOf(spark, target, 1050)
      .drop("_graft_pos").as[Student].collect().toSet
    assert(asOf2 == (rows.toSet - rows(0)) + rows(0).copy(score = 77))
    // current == snapshot
    assert(CdcApplier.snapshotAsOf(spark, target, Long.MaxValue)
      .drop("_graft_pos").as[Student].collect().toSet == state(target))

    // compaction collapses history: positions at/below the floor are
    // refused, positions above still answer
    CdcApplier.compactMor(spark, target)
    val e = intercept[IllegalArgumentException](
      CdcApplier.snapshotAsOf(spark, target, 500))
    assert(e.getMessage.contains("collapsed"))
    assert(CdcApplier.snapshotAsOf(spark, target, Long.MaxValue)
      .drop("_graft_pos").as[Student].collect().toSet == state(target))

    // copy-on-write stores refuse time travel instead of answering wrong
    val cow = newTarget()
    CdcApplier.applyBatch(spark, ev("insert", 1, None, Some(s1)), cow, opts)
    val e2 = intercept[IllegalStateException](
      CdcApplier.snapshotAsOf(spark, cow, 1))
    assert(e2.getMessage.contains("copy-on-write"))
  }

  test("optimize: file count drops, state identical, cadence knob fires, crash-safe") {
    import org.apache.hadoop.fs.Path
    val hconf = spark.sparkContext.hadoopConfiguration
    def dataFiles(target: String): Map[Int, Int] = {
      val t = new Path(target)
      val fs = t.getFileSystem(hconf)
      CdcApplier.bucketIds(fs, t).map { b =>
        b -> fs.listStatus(new Path(t, s"graft_bucket=$b"))
          .count(f => !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
      }.toMap
    }

    // MOR: three delta applies accumulate >=3 file sets per touched bucket
    val mor = newTarget()
    val mopts = opts.copy(numBuckets = 2)
    val all = (1 to 12).map(i => Student(i, i, i, s"n$i", "r"))
    CdcApplier.applyBatchMor(spark,
      ChangeFeed.inserts(all.toDF(), col("sn").cast("long") * 10), mor,
      mopts)
    CdcApplier.applyBatchMor(spark,
      ChangeFeed.updates(all.toDF().filter(col("sn") % 2 === 0),
        Map("score" -> (col("score") + 100)), col("sn").cast("long") * 10 + 1),
      mor, mopts)
    CdcApplier.applyBatchMor(spark,
      ChangeFeed.deletes(all.toDF().filter(col("sn") % 5 === 0),
        col("sn").cast("long") * 10 + 2),
      mor, mopts)
    val before = state(mor)
    val filesBefore = dataFiles(mor)
    assert(filesBefore.values.exists(_ > 1), s"harness: deltas must accumulate: $filesBefore")
    val touched = CdcApplier.optimize(spark, mor) // default target: 1 bin/bucket here
    assert(touched.nonEmpty)
    val filesAfter = dataFiles(mor)
    assert(filesAfter.values.forall(_ == 1), s"bin-packed to one file: $filesAfter")
    assert(filesAfter.values.sum < filesBefore.values.sum)
    // state identity: versions and tombstones carried verbatim — the
    // as-of read below the latest position still resolves history
    assert(state(mor) == before)
    // at pos 105: inserts sn<=10 (pos sn*10), even-sn updates (sn*10+1),
    // and the %5 deletes at 52/102 all apply -> 8 live rows
    assert(CdcApplier.snapshotAsOf(spark, mor, 105L).count() ==
      all.count(s => s.sn <= 10 && s.sn % 5 != 0))
    // idempotent: already-packed buckets are not rewritten
    assert(CdcApplier.optimize(spark, mor).isEmpty)

    // crash window: .bak left between an optimize publish's renames heals
    val t = new Path(mor)
    val fs = t.getFileSystem(hconf)
    val b0 = new Path(mor, "graft_bucket=0")
    assert(fs.rename(b0, new Path(mor, ".graft_bucket=0.bak")))
    assert(state(mor) == before) // snapshot's recoverBuckets restores

    // cadence knob: a pipeline with optimizeEvery=1 packs after each batch
    val cow = newTarget()
    val popts = graft.streaming.StreamingPipeline.PipelineOptions(
      mopts, optimizeEvery = 1)
    val env = ChangeFeed.inserts(all.toDF(), col("sn").cast("long") * 10)
      .withColumn("table", lit("student"))
    graft.streaming.StreamingPipeline.applyMicroBatch(spark, env, cow, popts, batchId = 0L)
    assert(dataFiles(cow).values.forall(_ == 1), dataFiles(cow).toString)
    assert(state(cow) == all.toSet)
  }

  test("backfill: bucket-by-bucket, resumable, idempotent re-process, guards") {
    import org.apache.hadoop.fs.Path
    val hconf = spark.sparkContext.hadoopConfiguration
    val target = newTarget()
    val bopts = opts.copy(numBuckets = 4)
    val all = (1 to 20).map(i => Student(i, i, i, s"n$i", "r"))
    CdcApplier.applyBatch(spark,
      ChangeFeed.inserts(all.toDF(), col("sn").cast("long") * 10), target, bopts)

    // bounded slice: marker exists, state is MIXED (filled + NULL)
    val first = CdcApplier.backfill(spark, target, "bonus",
      col("score") * 2, maxBuckets = 2)
    assert(first.size == 2)
    val fs = new Path(target).getFileSystem(hconf)
    assert(fs.exists(new Path(target, ".graft_backfill")))
    val mixed = CdcApplier.snapshot(spark, target)
      .agg(count(col("bonus")), count(lit(1))).collect()(0)
    assert(mixed.getLong(0) > 0 && mixed.getLong(0) < mixed.getLong(1), mixed.toString)

    // a DIFFERENT column while one is unfinished refuses
    intercept[IllegalStateException](
      CdcApplier.backfill(spark, target, "other", col("score") + 1))

    // resume completes: every row filled, marker gone, schema evolved
    CdcApplier.backfill(spark, target, "bonus", col("score") * 2)
    assert(!fs.exists(new Path(target, ".graft_backfill")))
    val snap = CdcApplier.snapshot(spark, target)
    assert(snap.filter(col("bonus") =!= col("score") * 2).count() == 0)
    assert(snap.filter(col("bonus").isNull).count() == 0)
    val meta = CdcApplier.TargetMeta.read(hconf, new Path(target)).get
    assert(meta.schemaJson.exists(_.contains("bonus")), meta.schemaJson.toString)

    // re-backfilling an EXISTING column refuses (fresh start, no marker)
    intercept[IllegalArgumentException](
      CdcApplier.backfill(spark, target, "bonus", col("score") * 3))

    // a later merge still works and the evolved column survives on
    // untouched rows (incoming envelope carries the column as NULL via
    // additive evolution? no — incoming must carry it; simulate a feed
    // WITH the column by updating through a re-insert carrying bonus)
    val snapBefore = snap.drop("_graft_pos").as[
      (Int, Int, Int, String, String, Int)].collect().toSet
    assert(snapBefore.size == 20)
  }

  test("vacuumMor: window collapses, current state identical, as-of floor moves") {
    val target = newTarget()
    val s2v2 = Student(2, 7, 85, "bob", "y")
    CdcApplier.applyBatchMor(spark, ev("insert", 10, None, Some(s1)), target, opts)
    CdcApplier.applyBatchMor(spark, ev("insert", 20, None, Some(s2)), target, opts)
    CdcApplier.applyBatchMor(spark, ev("update", 30, Some(s1), Some(s1v2)), target, opts)
    CdcApplier.applyBatchMor(spark, ev("update", 100, Some(s2), Some(s2v2)), target, opts)
    def rawRows = spark.read.parquet(target).count()
    val before = state(target)
    assert(rawRows == 4) // s1@10, s2@20, s1v2@30, s2v2@100
    CdcApplier.vacuumMor(spark, target, 100L)
    // the sub-window collapsed (s1's two versions became one image row)
    assert(rawRows == 3, s"expected 3 version rows post-vacuum, got $rawRows")
    // current state is bit-identical
    assert(state(target) == before)
    assert(before == Set(s1v2, s2v2))
    // as-of inside the retained window still answers (floor = 30)
    val asOf30 = CdcApplier.snapshotAsOf(spark, target, 30)
      .drop("_graft_pos").as[Student].collect().toSet
    assert(asOf30 == Set(s1v2, s2))
    // below the new floor is rejected, not answered wrong
    intercept[IllegalArgumentException](CdcApplier.snapshotAsOf(spark, target, 29))
    // vacuum again with nothing below the window: clean no-op
    assert(CdcApplier.vacuumMor(spark, target, 100L).isEmpty ||
      rawRows == 3)
    // and the table keeps working: one more delta + full compact converge
    CdcApplier.applyBatchMor(spark, ev("delete", 200, Some(s1v2), None), target, opts)
    CdcApplier.compactMor(spark, target)
    assert(state(target) == Set(s2v2))
  }

  test("differential: random lifecycles converge identically through cow and mor") {
    // Seeded random op sequences (deterministic across runs): the two
    // storage modes are different physical encodings of ONE logical merge
    // semantics, so every sequence must land every store on the same state.
    // Operation pool (all EIGHT maintenance ops interleave at random or
    // fixed points): applyBatch, applyBatchMor, changeFeed-fed replica,
    // compact (cow, at the cursor horizon), compactMor, vacuumMor (random
    // retention positions), optimize, rebucket, mid-lifecycle BOOTSTRAP
    // (a fourth store seeded from the cow snapshot then fed the tail),
    // and a post-run BACKFILL sliced at a random maxBuckets.
    val rnd = new scala.util.Random(4242)
    (1 to 3).foreach { trial =>
      val cow = newTarget(); val mor = newTarget()
      var pos = 0L
      var live = Map.empty[(Int, Int), Student]
      val batches = (1 to 5).map { _ =>
        val events = (1 to 8 + rnd.nextInt(8)).map { _ =>
          pos += 10
          val roll = rnd.nextInt(10)
          if (live.isEmpty || roll < 4) { // insert (possibly over an existing key)
            val st = Student(rnd.nextInt(6), rnd.nextInt(6), rnd.nextInt(100), s"n$pos", "r")
            live += (st.sn, st.id) -> st
            ("insert", pos, None: Option[Student], Some(st))
          } else if (roll < 7) { // update, sometimes a PK move
            val before = live(live.keys.toSeq(rnd.nextInt(live.size)))
            val after =
              if (rnd.nextInt(4) == 0)
                before.copy(sn = rnd.nextInt(6), id = rnd.nextInt(6), score = rnd.nextInt(100))
              else before.copy(score = rnd.nextInt(100))
            live -= ((before.sn, before.id))
            live += (after.sn, after.id) -> after
            ("update", pos, Some(before), Some(after))
          } else { // delete
            val before = live(live.keys.toSeq(rnd.nextInt(live.size)))
            live -= ((before.sn, before.id))
            ("delete", pos, Some(before), None)
          }
        }
        events
      }
      // third party: a replica fed ONLY by change feeds reconstructed from
      // the mor deltas (cursor = the previous batch's max position)
      val replica = newTarget()
      var cursor = Long.MinValue
      // fourth party: a store BOOTSTRAPPED mid-lifecycle from the cow
      // snapshot (the S1b snapshot-then-tail rebootstrap), fed only the
      // TAIL batches — the horizon guard must discard nothing it needs
      // and everything it already holds
      val boot = newTarget()
      val bootAt = 1 + rnd.nextInt(3) // after this many batches
      var bootSeeded = false
      // fifth party: a store written ONLY through the SQL write surface
      // (GraftWrites.insertInto/deleteWhere — the one funnel every SQL
      // route lands on; GraftWritesSpec proves the statements reach it).
      // SQL has no before-images, so each batch is expressed as its NET
      // effect: last-event-per-key upserts with explicit per-row
      // positions, plus DELETEs for keys whose last touch killed them
      // (including the retired old key of a PK move).
      val sqlStore = newTarget()
      batches.zipWithIndex.foreach { case (events, bi) =>
        val dfs = events.map { case (op, p, b, a) => ev(op, p, b, a) }
        val batch = dfs.reduce(_ union _)
        CdcApplier.applyBatch(spark, batch, cow, opts)
        CdcApplier.applyBatchMor(spark, batch, mor, opts)
        CdcApplier.applyBatch(spark,
          CdcApplier.changeFeed(spark, mor, cursor), replica, opts)
        if (bootSeeded) CdcApplier.applyBatch(spark, batch, boot, opts)
        locally {
          import org.apache.spark.sql.sources.{And, EqualTo, Filter, Or}
          val net = scala.collection.mutable.LinkedHashMap
            .empty[(Int, Int), (Long, Option[Student])]
          events.foreach { case (_, p, b, a) =>
            b.foreach(st => net((st.sn, st.id)) = (p, None))
            a.foreach(st => net((st.sn, st.id)) = (p, Some(st)))
          }
          val ups = net.values.collect { case (p, Some(st)) => (st, p) }.toSeq
          if (ups.nonEmpty) {
            val df = ups.map { case (st, p) =>
              (st.sn, st.id, st.score, st.name, st.rem, p)
            }.toDF("sn", "id", "score", "name", "rem", "_graft_pos")
            graft.sources.GraftWrites.insertInto(
              sqlStore, df, overwrite = false, Map("pk" -> "sn,id"))
          }
          // iterator first: Map.collect with a Tuple2-valued pf builds a
          // MAP (dedup by _1), silently dropping dead keys that share sn
          val dead = net.iterator.collect { case (k, (_, None)) => k }.toSeq
          if (dead.nonEmpty) {
            val pred = dead.map(k =>
              And(EqualTo("sn", k._1), EqualTo("id", k._2)): Filter)
              .reduce((x, y) => Or(x, y))
            graft.sources.GraftWrites.deleteWhere(spark, sqlStore, Array(pred))
          }
        }
        cursor = events.map(_._2).max
        if (bi + 1 == bootAt && !bootSeeded) {
          CdcApplier.bootstrap(spark,
            CdcApplier.snapshot(spark, cow).drop("_graft_pos"), boot, cursor, opts)
          bootSeeded = true
        }
        if (bi == 2) CdcApplier.compactMor(spark, mor) // mid-lifecycle collapse
        // random-point tombstone compaction on the cow store at the
        // published cursor horizon — dropped tombstones must never
        // resurrect rows
        if (rnd.nextInt(3) == 0) CdcApplier.compact(spark, cow, cursor)
        // random-point VACUUM on the mor store: collapse the version
        // window below a random retention position at-or-under the feed
        // cursor (the floor must never outrun the replica's feed)
        if (rnd.nextInt(3) == 0)
          CdcApplier.vacuumMor(spark, mor, cursor - 10L * rnd.nextInt(3))
        // random-point re-bucketing on the cow store: a modulus migration
        // anywhere in the lifecycle must be invisible to the fold
        if (rnd.nextInt(3) == 0)
          CdcApplier.rebucket(spark, cow, 1 + rnd.nextInt(7))
        // random-point OPTIMIZE on either store: bin packing anywhere in
        // the lifecycle must also be invisible (versions/tombstones
        // carried verbatim — mor deltas mid-chain included)
        if (rnd.nextInt(3) == 0)
          CdcApplier.optimize(spark, if (rnd.nextBoolean()) cow else mor)
      }
      assert(state(cow) == state(mor),
        s"trial $trial: cow/mor divergence — cow=${state(cow)} mor=${state(mor)}")
      assert(state(replica) == state(mor),
        s"trial $trial: the feed-built replica diverged — " +
          s"replica=${state(replica)} mor=${state(mor)}")
      assert(state(boot) == state(cow),
        s"trial $trial: the mid-lifecycle bootstrap diverged — " +
          s"boot=${state(boot)} cow=${state(cow)}")
      assert(state(cow) == live.values.toSet,
        s"trial $trial: all stores must equal the reference fold")
      assert(state(sqlStore) == live.values.toSet,
        s"trial $trial: the SQL-written store diverged — " +
          s"sql=${state(sqlStore)} ref=${live.values.toSet}")

      // post-run BACKFILL sliced at a random maxBuckets: the bounded first
      // slice + completion must land the declarative projection, and the
      // sliced path must equal a fresh one-shot backfill's result
      val slice = 1 + rnd.nextInt(3)
      val nb = CdcApplier.bucketIds(
        new org.apache.hadoop.fs.Path(cow).getFileSystem(
          spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(cow)).size
      if (nb > slice) { // bounded first slice leaves the resumable marker
        val first = CdcApplier.backfill(spark, cow, "score2",
          org.apache.spark.sql.functions.col("score") * 2, maxBuckets = slice)
        assert(first.size == slice)
      }
      CdcApplier.backfill(spark, cow, "score2",
        org.apache.spark.sql.functions.col("score") * 2)
      val got = CdcApplier.snapshot(spark, cow)
        .select($"sn", $"id", $"score", $"score2").as[(Int, Int, Int, Int)]
        .collect().toSet
      assert(got == live.values.map(st => (st.sn, st.id, st.score, st.score * 2)).toSet,
        s"trial $trial: sliced backfill diverged from the declarative projection")
    }
  }

  test("range-bucketed layout: key-ordered buckets, covering-bucket scans, drift guard, mor combo") {
    val target = newTarget()
    val ropts = CdcApplier.Options(pk, bucketCols = Some(Seq("sn")),
      rangeBounds = Some(Seq(10L, 20L, 30L)))
    val rows = (1 to 40).map(i => Student(i, i, i, s"n$i", "r"))
    CdcApplier.applyBatch(spark,
      ChangeFeed.inserts(rows.toDF(), col("sn").cast("long") * 10), target, ropts)

    // bucket ids follow key order (monotone assignment → contiguous scans)
    import org.apache.hadoop.fs.Path
    val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(CdcApplier.bucketIds(fs, new Path(target)) == Seq(0, 1, 2, 3))
    val perBucket = spark.read.parquet(target)
      .groupBy(col("graft_bucket")).agg(min(col("sn")).as("lo"), max(col("sn")).as("hi"))
      .collect().map(r => r.getInt(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(perBucket(0) == (1, 9) && perBucket(1) == (10, 19) &&
      perBucket(2) == (20, 29) && perBucket(3) == (30, 40))

    // range scan: covering buckets only, range pushed, exact answer
    val scan = CdcApplier.rangeLookup(spark, target, 15L, 25L)
    val p = scan.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(strictlyPruned(p), p)
    assert(p.linesIterator.exists(l => l.contains("PushedFilters") &&
        l.contains("GreaterThanOrEqual(sn") && l.contains("LessThanOrEqual(sn")), p)
    assert(scan.drop("_graft_pos").as[Student].collect().toSet ==
      rows.filter(s => s.sn >= 15 && s.sn <= 25).toSet)

    // contradictory bounds on an existing layout is drift
    val e = intercept[IllegalStateException](CdcApplier.applyBatch(spark,
      ev("insert", 9999, None, Some(Student(41, 41, 1, "x", "r"))), target,
      CdcApplier.Options(pk, bucketCols = Some(Seq("sn")), rangeBounds = Some(Seq(5L, 15L)))))
    assert(e.getMessage.contains("drift"))
    // ...but an unconfigured writer adopts the persisted bounds
    CdcApplier.applyBatch(spark,
      ev("insert", 10000, None, Some(Student(35, 99, 1, "y", "r"))), target, opts)
    assert(CdcApplier.rangeLookup(spark, target, 35L, 35L).count() == 2)

    // range + mor compose: deltas land by range, lookup resolves versions
    val morT = newTarget()
    CdcApplier.applyBatchMor(spark,
      ChangeFeed.inserts(rows.toDF(), col("sn").cast("long") * 10), morT, ropts)
    CdcApplier.applyBatchMor(spark,
      ev("delete", 5000, Some(rows(14)), None), morT, ropts)
    assert(CdcApplier.rangeLookup(spark, morT, 15L, 16L)
      .drop("_graft_pos").as[Student].collect().toSet == Set(rows(15)))
  }

  test("changeFeed: op classification, PK-move chain, floor and cow guards") {
    val target = newTarget()
    CdcApplier.applyBatchMor(spark, ev("insert", 10, None, Some(s1)), target, opts)
    CdcApplier.applyBatchMor(spark, ev("update", 20, Some(s1), Some(s1v2)), target, opts)
    // PK move: (1,1) -> (3,3); then delete the moved row
    val moved = s1v2.copy(sn = 3, id = 3)
    CdcApplier.applyBatchMor(spark, ev("update", 30, Some(s1v2), Some(moved)), target, opts)
    CdcApplier.applyBatchMor(spark, ev("delete", 40, Some(moved), None), target, opts)

    def feed(from: Long) = CdcApplier.changeFeed(spark, target, from)
      .collect().map(r => (r.getAs[String]("op"), r.getAs[Long]("next_position"),
        Option(r.getAs[org.apache.spark.sql.Row]("before")).map(_.getAs[Int]("sn")),
        Option(r.getAs[org.apache.spark.sql.Row]("after")).map(_.getAs[Int]("sn"))))
      .sortBy(_._2).toSeq

    // full feed: insert(1), update(1), [move: delete(1) + insert(3)], delete(3)
    val all = feed(Long.MinValue)
    assert(all.map(e => (e._1, e._2)) ==
      Seq(("insert", 10L), ("update", 20L), ("delete", 30L), ("insert", 30L), ("delete", 40L)),
      s"got $all")
    // the update carries the previous version as before
    assert(all(1)._3.contains(1) && all(1)._4.contains(1))
    // the final delete has a before even though it targets the moved key
    assert(all(4)._3.contains(3) && all(4)._4.isEmpty)

    // incremental cursor: only events past it
    assert(feed(25).map(_._2) == Seq(30L, 30L, 40L))

    // replaying the full feed into a fresh store reproduces the state
    val replica = newTarget()
    CdcApplier.applyBatch(spark,
      CdcApplier.changeFeed(spark, target, Long.MinValue), replica, opts)
    assert(state(replica) == state(target))

    // compaction collapses history -> stale cursors refused
    CdcApplier.compactMor(spark, target)
    val e = intercept[IllegalArgumentException](feed(25))
    assert(e.getMessage.contains("retained history"))
    // cow stores refuse entirely
    val cow = newTarget()
    CdcApplier.applyBatch(spark, ev("insert", 1, None, Some(s1)), cow, opts)
    val e2 = intercept[IllegalStateException](
      CdcApplier.changeFeed(spark, cow, Long.MinValue))
    assert(e2.getMessage.contains("copy-on-write"))
  }

  test("changeFeed: bucket pruning off per-bucket high-water marks") {
    val target = newTarget()
    val seed = (1 to 40).map(i => Student(i, i, i, s"n$i", "r"))
    CdcApplier.applyBatchMor(spark,
      seed.map(st => ev("insert", 10, None, Some(st))).reduce(_ union _),
      target, opts.copy(numBuckets = 8))
    // one touched key since cursor 10: the feed must plan ONLY its bucket
    val touched = seed.head.copy(score = 99)
    CdcApplier.applyBatchMor(spark,
      ev("update", 20, Some(seed.head), Some(touched)), target,
      opts.copy(numBuckets = 8))
    val (covered, all) = CdcApplier.changeFeedBuckets(spark, target, 10)
    assert(all.size == 8 && covered.size == 1,
      s"expected 1 covered bucket of 8, got $covered of $all")
    val feed = CdcApplier.changeFeed(spark, target, 10)
      .selectExpr("op", "next_position", "after.sn").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
    assert(feed == Seq(("update", 20L, 1)), feed.toString)
    // cursor before everything: all buckets covered, full feed intact
    val (c0, _) = CdcApplier.changeFeedBuckets(spark, target, Long.MinValue)
    assert(c0.size == 8)
    assert(CdcApplier.changeFeed(spark, target, Long.MinValue).count() == 41)
    // no acknowledged change past the frontier: empty feed, no exception
    assert(CdcApplier.changeFeed(spark, target, 20).count() == 0)
    assert(CdcApplier.changeFeedBuckets(spark, target, 20)._1.isEmpty)
    // a compact rewrites buckets but positions are unchanged: marks keep
    // over-estimating safely (the pruning arithmetic survives the rewrite;
    // the feed itself now starts at the collapsed floor)
    CdcApplier.compactMor(spark, target)
    val (c1, a1) = CdcApplier.changeFeedBuckets(spark, target, 10)
    assert(c1.size == 1 && a1.size == 8, s"$c1 of $a1")
    assert(CdcApplier.changeFeed(spark, target, 20).count() == 0)
  }

  test("applyBatch: a later run with the PK columns in a different order adopts the layout's") {
    val target = newTarget()
    CdcApplier.applyBatch(spark, ev("insert", 10, None, Some(s1)), target, opts)
    // same column SET, reversed order: must merge into the same buckets
    CdcApplier.applyBatch(spark, ev("insert", 20, None, Some(s2)), target,
      CdcApplier.Options(pk.reverse))
    assert(state(target) == Set(s1, s2))
    // re-apply s1 under the reversed-order options: must find and keep the
    // one existing row, not duplicate it into a differently-hashed bucket
    CdcApplier.applyBatch(spark,
      ev("update", 30, Some(s1), Some(s1v2)), target, CdcApplier.Options(pk.reverse))
    assert(state(target) == Set(s1v2, s2))
    // a genuinely different key SET fails loudly
    val e = intercept[IllegalStateException](
      CdcApplier.applyBatch(spark, ev("insert", 40, None, Some(s2)), target,
        CdcApplier.Options(Seq("sn"))))
    assert(e.getMessage.contains("PK drift"))
  }

  test("MergeSink seam: the bucketed-parquet fallback fulfils the trait contract") {
    val sink: MergeSink = BucketedParquetSink
    val target = newTarget()
    val touched = sink.merge(spark,
      ev("insert", 10, None, Some(s1)).union(ev("insert", 11, None, Some(s2))),
      target, opts)
    assert(touched.nonEmpty, "merge must report the buckets it touched (S20 contract)")
    // idempotent under replay, through the trait
    sink.merge(spark, ev("insert", 10, None, Some(s1)), target, opts)
    assert(sink.snapshot(spark, target).drop("_graft_pos").as[Student].collect().toSet
      == Set(s1, s2))
  }

  test("MergeSink.resolve: probe evidence and chosen sink agree") {
    val (sink, probe) = MergeSink.resolve()
    val present = probe.filter(_._2).keys.toSeq.sorted
    // This build's probe record (MergeSink scaladoc): no lake jar ships in
    // /opt/spark/jars. If a future environment adds one, this assertion is
    // the loud signal to implement the lake MergeSink (the MERGE INTO
    // recipe in the trait scaladoc) instead of silently using the fallback.
    assert(present.isEmpty,
      s"lake format(s) ${present.mkString(",")} are now on the classpath - " +
        "implement MergeSink on them (see MergeSink scaladoc) and extend the " +
        "parity suite; the bucketed-parquet fallback should no longer be the default")
    assert(sink == BucketedParquetSink)
  }

  test("Scd2: delete closes the interval; re-insert opens a NEW one (no bridge)") {
    // key 1: insert@10 -> update@20 -> delete@30 -> re-insert@40 (current)
    // key 2: insert@15, never touched again (current, open interval)
    def one(id: Long, v: String) = Seq((id, v)).toDF("id", "v")
    val changes = Seq(
      ChangeFeed.inserts(one(1L, "a"), lit(10L)),
      ChangeFeed.inserts(one(2L, "x"), lit(15L)),
      ChangeFeed.updates(one(1L, "a"), Map("v" -> lit("b")), lit(20L)),
      ChangeFeed.deletes(one(1L, "b"), lit(30L)),
      ChangeFeed.inserts(one(1L, "c"), lit(40L))
    ).reduce(_ unionByName _)
    val got = Scd2.history(changes, "id", Seq("v"))
      .select($"id", $"valid_from", $"valid_to", $"v", $"is_current")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getString(3), r.getBoolean(4)))
      .toSet
    assert(got == Set(
      (1L, 10L, 20L, "a", false),   // v1 closed by the update
      (1L, 20L, 30L, "b", false),   // v2 closed by the DELETE, not by v3
      (1L, 40L, -1L, "c", true),    // re-insert opens fresh: [40, null)
      (2L, 15L, -1L, "x", true)
    ), s"history intervals wrong: $got")
  }

  test("Scd2.applyBatch folds incrementally to the same history as a fresh derivation") {
    def one(id: Long, v: String) = Seq((id, v)).toDF("id", "v")
    // batch 1: two inserts + an update; batch 2: update, delete+re-insert
    // WITHIN one batch (k1), and a brand-new key (k3)
    val b1 = Seq(
      ChangeFeed.inserts(one(1L, "a"), lit(10L)),
      ChangeFeed.inserts(one(2L, "x"), lit(15L)),
      ChangeFeed.updates(one(1L, "a"), Map("v" -> lit("b")), lit(20L))
    ).reduce(_ unionByName _)
    val b2 = Seq(
      ChangeFeed.updates(one(2L, "x"), Map("v" -> lit("y")), lit(25L)),
      ChangeFeed.deletes(one(1L, "b"), lit(30L)),
      ChangeFeed.inserts(one(1L, "c"), lit(40L)),
      ChangeFeed.inserts(one(3L, "z"), lit(35L))
    ).reduce(_ unionByName _)
    def norm(df: org.apache.spark.sql.DataFrame) = df
      .select($"id", $"valid_from", $"valid_to", $"v", $"is_current")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getString(3), r.getBoolean(4)))
      .toSet
    val incremental = norm(Scd2.applyBatch(
      Scd2.history(b1, "id", Seq("v")), b2, "id", Seq("v")))
    val fresh = norm(Scd2.history(b1.unionByName(b2), "id", Seq("v")))
    assert(incremental == fresh, s"fold diverged:\n$incremental\nvs\n$fresh")
    // the batch-1 open row for k1 must have closed at batch 2's update? no —
    // at its key's first batch-2 event (the delete at 30)
    assert(incremental.contains((1L, 20L, 30L, "b", false)), incremental.toString)
    assert(incremental.contains((1L, 40L, -1L, "c", true)), incremental.toString)
  }

  test("rebucket: state identical, modulus adopted, lookups prune new layout, guards") {
    import org.apache.hadoop.fs.Path
    val target = newTarget()
    val feed = ev("insert", 10, None, Some(s1))
      .union(ev("insert", 11, None, Some(s2)))
      .union(ev("insert", 12, None, Some(Student(3, 5, 70, "cid", "c"))))
      .union(ev("delete", 20, Some(s2), None))
    CdcApplier.applyBatch(spark, feed, target, opts) // 16-bucket layout
    val before = state(target)
    assert(CdcApplier.rebucket(spark, target, 3) == 3)
    // layout physically re-hashed: meta + at most 3 bucket dirs
    val hconf = spark.sparkContext.hadoopConfiguration
    val meta = CdcApplier.TargetMeta.read(hconf, new Path(target)).get
    assert(meta.numBuckets == 3)
    val fs = new Path(target).getFileSystem(hconf)
    val ids = CdcApplier.bucketIds(fs, new Path(target))
    assert(ids.nonEmpty && ids.forall(b => b >= 0 && b < 3), ids.toString)
    // state unchanged through the migration (tombstone for s2 carried)
    assert(state(target) == before)
    // a later applier adopts the new modulus and merges correctly
    CdcApplier.applyBatch(spark,
      ev("update", 30, Some(s1), Some(s1v2)), target, opts)
    assert(state(target) == before - s1 + s1v2)
    // point lookup prunes to the NEW bucket of the key
    val keys = Seq((1, 1)).toDF("sn", "id")
    val got = CdcApplier.pointLookup(spark, target, keys)
    assert(got.drop("_graft_pos").as[Student].collect().toSet == Set(s1v2))
    // the scan reads exactly the key's re-hashed bucket
    got.collect()
    val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(got.queryExecution.executedPlan) {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.asInstanceOf[graft.sources.GraftBatchScan]
      }
    assert(scans.size == 1, got.queryExecution.executedPlan.toString)
    assert(scans.head.lastPlannedBuckets ==
      CdcApplier.bucketIdsOf(spark, Seq(Seq(lit(1), lit(1))), 3, None))
    // no-op and guard paths
    assert(CdcApplier.rebucket(spark, target, 3) == 0)
    intercept[IllegalArgumentException](CdcApplier.rebucket(spark, target, 0))
  }

  test("rebucket: crash between the two target renames recovers at next read") {
    import org.apache.hadoop.fs.Path
    val target = newTarget()
    CdcApplier.applyBatch(spark, ev("insert", 10, None, Some(s1)), target, opts)
    val before = state(target)
    // simulate the crash window: live renamed to .bak, fresh never arrived
    val hconf = spark.sparkContext.hadoopConfiguration
    val live = new Path(target)
    val fs = live.getFileSystem(hconf)
    val bak = new Path(live.getParent, "." + live.getName + ".bak")
    assert(fs.rename(live, bak))
    // snapshot's entry recovery restores the backup
    assert(state(target) == before)
    assert(!fs.exists(bak))
  }

  test("bootstrap: seeds at one position, guards replay, preserves layout, recovers crashes") {
    import org.apache.hadoop.fs.Path
    val hconf = spark.sparkContext.hadoopConfiguration

    // Fresh-target bootstrap with a custom layout; tail events compose.
    val target = newTarget()
    val seed = Seq(s1, s2).toDF()
    val customOpts = opts.copy(numBuckets = 5)
    assert(CdcApplier.bootstrap(spark, seed, target, 100L, customOpts) == 5)
    assert(state(target) == Set(s1, s2))
    // the stream cursor published atomically with the seed
    assert(graft.streaming.StreamingPipeline.readHighWater(spark, target).contains(100L))
    // a stale pre-bootstrap event (pos <= atPos) is discarded by the seeded
    // horizon; a tail event (pos > atPos) applies
    CdcApplier.applyBatch(spark,
      ev("delete", 50, Some(s1), None)          // pre-purge replay: discarded
        .union(ev("update", 150, Some(s1), Some(s1v2))), target, customOpts)
    assert(state(target) == Set(s1v2, s2))

    // RE-bootstrap over the non-empty target: state REPLACED, layout
    // (modulus 5) preserved under the adopt-the-layout rule even when the
    // caller passes the default options.
    val seed2 = Seq(s1v2).toDF()
    assert(CdcApplier.bootstrap(spark, seed2, target, 200L, opts) == 5)
    assert(state(target) == Set(s1v2))
    val meta = CdcApplier.TargetMeta.read(hconf, new Path(target)).get
    assert(meta.numBuckets == 5 && meta.horizon == 200L)

    // A bootstrap position below the existing horizon is refused (the seed
    // could resurrect compacted deletes).
    intercept[IllegalArgumentException](
      CdcApplier.bootstrap(spark, seed, target, 150L, opts))

    // Crash window A: fresh tree fully written, swap never started — the
    // old state stays live. A READER must leave the staging tree alone
    // (it cannot tell a crash orphan from a maintainer mid-write); the
    // next WRITER entry reclaims it under single-writer discipline.
    val live = new Path(target)
    val fs = live.getFileSystem(hconf)
    val staging = new Path(target + ".bootstrap.tmp")
    fs.mkdirs(staging)
    assert(state(target) == Set(s1v2))
    assert(fs.exists(staging)) // reader: hands off the maintainer's staging
    assert(CdcApplier.bootstrap(spark, seed2, target, 300L, opts) == 5)
    assert(!fs.exists(staging)) // writer: orphan reclaimed

    // Crash window B: between the two swap renames — live gone, .bak holds
    // the pre-bootstrap state; the next reader restores it.
    val bak = new Path(live.getParent, "." + live.getName + ".bak")
    assert(fs.rename(live, bak))
    assert(state(target) == Set(s1v2))
    assert(!fs.exists(bak))

    // PK completeness on the seed itself (S6): a NULL key row fails the
    // bootstrap distributed-guard-style rather than seeding a corrupt state.
    val badSeed = Seq(s1).toDF()
      .withColumn("sn", when(lit(true), lit(null).cast("int")))
    intercept[Exception](
      CdcApplier.bootstrap(spark, badSeed, newTarget(), 10L, opts))

    // Re-bootstrap over a MOR target preserves the storage mode and sets
    // the collapsed watermark (all pre-seed version history is gone, so
    // as-of reads below the seed position must refuse).
    val morT = newTarget()
    CdcApplier.applyBatchMor(spark, ev("insert", 10, None, Some(s1)), morT, opts)
    CdcApplier.bootstrap(spark, Seq(s1v2).toDF(), morT, 500L, opts)
    val morMeta = CdcApplier.TargetMeta.read(hconf, new Path(morT)).get
    assert(morMeta.storage.contains("mor") && morMeta.collapsed.contains(500L))
    assert(state(morT) == Set(s1v2))
    intercept[IllegalArgumentException](CdcApplier.snapshotAsOf(spark, morT, 400L))
    // and the delta path still applies on top of the seed
    CdcApplier.applyBatchMor(spark, ev("insert", 600, None, Some(s2)), morT, opts)
    assert(state(morT) == Set(s1v2, s2))
  }

  test("openTarget: EVERY reader heals a crashed rebucket; stale staging reclaimed") {
    import org.apache.hadoop.fs.Path
    val hconf = spark.sparkContext.hadoopConfiguration

    // (a) crash BETWEEN rebucket's two renames: live gone, .bak holds the
    // data, .rebucket.tmp holds the orphaned fresh tree. Previously only
    // snapshot/applyBatch/rebucket recovered; snapshotIfBootstrapped
    // reported the table as never-bootstrapped and pointLookup threw.
    val target = newTarget()
    CdcApplier.applyBatch(spark, ev("insert", 10, None, Some(s1)), target, opts)
    val before = state(target)
    val live = new Path(target)
    val fs = live.getFileSystem(hconf)
    val staging = new Path(target + ".rebucket.tmp")
    fs.mkdirs(staging) // stand-in for the fully-written fresh tree
    val bak = new Path(live.getParent, "." + live.getName + ".bak")
    assert(fs.rename(live, bak))
    // snapshotIfBootstrapped must distinguish crash from absence: recover
    assert(CdcApplier.snapshotIfBootstrapped(spark, target).isDefined)
    assert(state(target) == before)
    assert(!fs.exists(bak))
    // ... but a READER leaves the staging copy alone — it cannot tell a
    // crash orphan from a live rebucket mid-write, and deleting a
    // maintainer's staging tree would fail that job; the next WRITER
    // reclaims it (single-writer discipline)
    assert(fs.exists(staging))
    CdcApplier.applyBatch(spark, ev("insert", 20, None, Some(s2)), target, opts)
    assert(!fs.exists(staging))

    // (b) crash AFTER the fresh tree was fully written but BEFORE swapDir:
    // live intact, .rebucket.tmp a full-table copy. An applyBatch-only
    // lifecycle must reclaim it instead of leaking it forever — and the
    // same for every other fixed staging name a writer stages under.
    val t2 = newTarget()
    CdcApplier.applyBatch(spark, ev("insert", 10, None, Some(s2)), t2, opts)
    val fixedStaging = Seq(".tmp", ".compact.tmp", ".zorder.tmp", ".backfill.tmp",
      ".rebucket.tmp", ".widen.tmp", ".bootstrap.tmp")
    fixedStaging.foreach(suffix => fs.mkdirs(new Path(t2 + suffix)))
    CdcApplier.applyBatch(spark, ev("insert", 20, None, Some(s1)), t2, opts)
    fixedStaging.foreach(suffix =>
      assert(!fs.exists(new Path(t2 + suffix)), s"$suffix staging leaked"))
    assert(state(t2) == Set(s1, s2))

    // (c) pointLookup recovers a crashed swap too (was: "no graft table
    // state"): simulate the crash window again on t2 and look up directly.
    val live2 = new Path(t2)
    val bak2 = new Path(live2.getParent, "." + live2.getName + ".bak")
    assert(fs.rename(live2, bak2))
    import spark.implicits._
    val got = CdcApplier.pointLookup(spark, t2, Seq((1, 1)).toDF("sn", "id"))
    assert(got.drop("_graft_pos").as[Student].collect().toSet == Set(s1))
    assert(!fs.exists(bak2))
  }
}
