package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructType}

import graft.cdc.{CdcApplier, ChangeFeed}

/** Interior-plan captures for the optimization round (the `plans/r15/`
  * deliverable's second half): the lifecycle gates' returned-frame explain
  * cannot show changes INSIDE `applyBatch` — this harness reconstructs the
  * exact interior frames the applier builds and writes their
  * `.explain("formatted")`, so the claimed plan diffs are checkable
  * against committed files.
  *
  * Capture 1/2 — the BOOTSTRAP merge (wave-1 change #5): `merge()` against
  * the pre-change empty `LogicalRDD` (opaque to `PropagateEmptyRelation`,
  * plans a real full-outer SortMergeJoin) vs the empty `LocalRelation` the
  * applier now uses (join deleted outright).
  *
  * Usage: sbt "Test/runMain graft.PlanSnippetsMain plans/r15"
  */
object PlanSnippetsMain {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r15")
    val spark = SparkEntry.localSession(4)
    import spark.implicits._
    new java.io.File(outDir).mkdirs()

    val opts = CdcApplier.Options(Seq("k"))
    val data = spark.range(1, 101).select($"id".as("k"), ($"id" % 7).as("v"))
    val resolved = CdcApplier.resolveBatch(ChangeFeed.inserts(data, $"k" * 10), opts)
      .withColumn(CdcApplier.BUCKET, lit(0))
    val schema = StructType(
      resolved.schema.fields.filterNot(f =>
        f.name == "_graft_kind" || f.name == CdcApplier.POS ||
          f.name == CdcApplier.BUCKET))
      .add(CdcApplier.POS, LongType).add(CdcApplier.DEL, BooleanType)
      .add(CdcApplier.BUCKET, "int")

    def capture(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$name.txt"), plan)
      println(s"wrote $outDir/$name.txt")
    }

    // pre-change form: empty LogicalRDD — PropagateEmptyRelation cannot
    // prove it empty, the bootstrap pays a real full-outer SortMergeJoin
    val emptyRdd = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    capture("bootstrap_merge_before", CdcApplier.merge(emptyRdd, resolved, opts))

    // current form: empty LocalRelation — the optimizer deletes the join
    val emptyLocal = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), schema)
    capture("bootstrap_merge_after", CdcApplier.merge(emptyLocal, resolved, opts))

    spark.stop()
  }
}
