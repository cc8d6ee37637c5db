package org.apache.spark.sql.graft

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan}
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, FilePartition, InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The `private[sql]` seams the connector's Batch (runtime-filterable) scan
  * rides, isolated like [[StreamShim]]/[[AggShim]]: the graft Batch leg
  * delegates ALL parquet decoding to Spark's own DataSource-V2 parquet
  * machinery — [[ParquetScan.createReaderFactory]] performs the full
  * hadoop-conf setup (read-support class, requested-schema JSON, timezone,
  * rebase modes, case sensitivity) that a hand-rolled factory would have to
  * replicate keystroke-for-keystroke, and its
  * `ParquetPartitionReaderFactory` already handles per-file schema clipping
  * (additive evolution), vectorized decode, and row-group skipping for the
  * pushed filters. Only the PARTITION PLANNING stays graft-side: one input
  * partition per bucket directory, because a bucket is key-complete and
  * that is what makes reader-local merge-on-read resolution sound. The
  * applier's own reads and the optimizer rules' spliced reads wrap a
  * built scan directly ([[scanRelation]], [[scanFrame]]: `Dataset.ofRows`
  * is `private[sql]`).
  */
object ParquetReadShim {
  /** Spark's parquet reader factory for (dataSchema → readDataSchema) with
    * `filters` available for row-group skipping. The file index is empty
    * on purpose — the graft scan plans its own per-bucket partitions; this
    * scan instance only contributes its reader factory (and the
    * hadoop-conf population that happens inside `createReaderFactory`). */
  def parquetReaderFactory(
      spark: SparkSession, dataSchema: StructType, readDataSchema: StructType,
      filters: Array[Filter]): PartitionReaderFactory = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val index = new InMemoryFileIndex(
      classic, Seq.empty, Map.empty, Some(dataSchema))
    ParquetScan(
      classic, classic.sessionState.newHadoopConf(), index,
      dataSchema, readDataSchema, new StructType(), filters,
      CaseInsensitiveStringMap.empty()).createReaderFactory()
  }

  /** An already-built scan's own `DataSourceV2ScanRelation` leaf — the
    * node `V2ScanRelationPushDown` would have produced — planned by
    * Spark's V2 strategy into a `BatchScanExec` (no RDD wrapper hides it
    * from the plan). The graft applier's version reads and the subtrees
    * the optimizer rules splice in ride this; serving reads take the
    * ordinary `DataFrameReader` route, whose pushdown builds the scan. */
  def scanRelation(table: Table, scan: Scan): DataSourceV2ScanRelation = {
    val output = DataTypeUtils.toAttributes(scan.readSchema())
    DataSourceV2ScanRelation(
      DataSourceV2Relation(table, output, None, None, CaseInsensitiveStringMap.empty()),
      scan, output)
  }

  /** The data-source form of a Catalyst predicate, when it has one — the
    * translation V2 pushdown applies (`translateFilter` is `protected[sql]`). */
  def translateFilter(e: Expression): Option[Filter] =
    DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = false)

  /** A frame over a resolved logical plan. */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A frame over an already-built scan ([[scanRelation]]). */
  def scanFrame(spark: SparkSession, table: Table, scan: Scan): DataFrame =
    frame(spark, scanRelation(table, scan))

  /** One FilePartition over one bucket directory's files. */
  def bucketPartition(index: Int, files: Seq[FileStatus]): InputPartition =
    FilePartition(index, files.map(st =>
      PartitionedFile(InternalRow.empty, SparkPath.fromPath(st.getPath),
        0L, st.getLen, Array.empty, st.getModificationTime, st.getLen,
        Map.empty)).toArray)
}
