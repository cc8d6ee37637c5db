package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Advanced, Analytics, Relational}
import graft.cdc.CdcQueries
import graft.ext.{Corpus, Curation, Multimodal, NearDup, Retrieval, Similarity, TextOps}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.queries("q03_join_topk")(spark, "/root/testdata/sf0.001")

  /** The local session every main (Bench, Verify and the plan/profile
    * harnesses) runs on: `cores` task slots and as many shuffle
    * partitions, UTC, and no UI. Graft's write profile is not set here —
    * it rides on each graft write ([[graft.cdc.CdcApplier.stage]]). */
  def localSession(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet's ts encoding drifts across driver regens (NANOS vs
      // MICROS); Tables.load adapts to either, this conf covers the NANOS case.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Advanced.queries ++ CdcQueries.queries ++ TextOps.queries ++
      NearDup.queries ++ Similarity.queries ++ Multimodal.queries ++ Corpus.queries ++
      Retrieval.queries ++ graft.streaming.StreamQueries.queries ++ Analytics.queries ++
      graft.sources.SourceQueries.queries ++ Curation.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Advanced.oracles ++ CdcQueries.oracles ++ TextOps.oracles ++
      NearDup.oracles ++ Similarity.oracles ++ Multimodal.oracles ++ Corpus.oracles ++
      Retrieval.oracles ++ graft.streaming.StreamQueries.oracles ++ Analytics.oracles ++
      graft.sources.SourceQueries.oracles ++ Curation.oracles
}
