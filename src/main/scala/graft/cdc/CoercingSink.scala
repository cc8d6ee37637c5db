package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Second sink with the reference's Mongo-path value coercions
  * (SURVEY.md §2.1 S20, `MongoDBApplier.scala:19-119`): replicate the
  * merged state into a secondary store after applying
  *  - enum ordinal -> label, with the 0 ordinal NULL-encoding
  *    (`MongoDBApplier.scala:100-104`; CHANGELOG #9's AIOOBE regression —
  *    out-of-range ordinals also become NULL instead of throwing),
  *  - decimal -> double (`MongoDBApplier.scala:106-110`),
  *  - binary (text bytes) -> UTF-8 string (`MongoDBApplier.scala:112-116`).
  *
  * Coercion is schema-driven: enum columns are identified by the
  * `enumValues` field metadata that [[graft.catalog.SchemaDiscovery]]
  * attaches. The reference's duplicate-key-tolerant insert replay
  * (idempotence) is inherited from [[CdcApplier]]'s position-guarded merge
  * — the second sink just projects the already-converged snapshot.
  */
object CoercingSink {

  /** Apply the S20 value coercions to every column, driven by type +
    * metadata. Pure projection — stays in whole-stage codegen. */
  def coerce(df: DataFrame): DataFrame = {
    val cols = df.schema.fields.map { f =>
      val c = col(f.name)
      val coerced: Column =
        if (f.metadata.contains("enumValues")) {
          val labels = f.metadata.getStringArray("enumValues")
          // 1-based ordinal; 0 and out-of-range NULL-encode (CHANGELOG #9)
          when(c >= 1 && c <= labels.length,
            element_at(array(labels.map(lit).toIndexedSeq: _*), c.cast("int"))).otherwise(lit(null))
        } else f.dataType match {
          case _: DecimalType => c.cast(DoubleType)
          case BinaryType => decode(c, "UTF-8")
          case _ => c
        }
      coerced.as(f.name)
    }
    df.select(cols.toSeq: _*)
  }

  private def bucketIds(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Seq[Int] =
    CdcApplier.bucketIds(fs, dir)

  /** Full replication: every primary bucket, in the same bucketed layout as
    * [[replicateBuckets]] (one layout for the replica, whichever entry
    * point wrote it). */
  def replicate(spark: SparkSession, targetDir: String, secondaryDir: String): Unit = {
    val fs = new Path(targetDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    replicateBuckets(spark, targetDir, secondaryDir, bucketIds(fs, new Path(targetDir)))
  }

  /** Incremental replication: mirror only the buckets the batch touched,
    * reusing the primary's bucket layout and crash-safe publish (shared
    * [[CdcApplier.publishBuckets]], which also recovers any interrupted
    * earlier swap) — the second sink's I/O stays proportional to the batch,
    * exactly like the primary. Tombstoned rows are filtered, so deletes
    * propagate via the bucket rewrite. A replica with no buckets yet (first
    * activation over an existing primary) is backfilled in full. */
  def replicateBuckets(
      spark: SparkSession, targetDir: String, secondaryDir: String, buckets: Seq[Int]): Unit = {
    import CdcApplier.POS
    val hconf = spark.sparkContext.hadoopConfiguration
    val secondary = new Path(secondaryDir)
    val fs = secondary.getFileSystem(hconf)

    // Backfill: an empty replica must start from the whole primary, not
    // just this batch's buckets — otherwise untouched buckets never arrive.
    val effective =
      if (bucketIds(fs, secondary).isEmpty) bucketIds(fs, new Path(targetDir))
      else buckets
    if (effective.isEmpty) return

    // the primary's live rows (version-bearing layouts resolved, so the
    // replica never carries superseded images or masked rows), bucket kept
    // for the replica's layout
    val touched = CdcApplier.liveBuckets(spark, targetDir, effective).drop(POS)
    val tmp = CdcApplier.stage(coerce(touched),
      CdcApplier.stagingDir(secondary, CdcApplier.Staging.Apply))
    CdcApplier.publishBuckets(fs, secondary, tmp, effective)
    spark.catalog.refreshByPath(secondaryDir)
  }
}
