package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional extra args restrict the run to the named queries (dev loop);
    // the driver always passes exactly (sfDir, outDir) and gets the full run.
    val selected =
      if (args.length <= 2) SparkEntry.queries
      else SparkEntry.queries.filter(q => args.drop(2).contains(q._1))
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // Schema-drift canary: the driver has regenerated the testdata mid-round
    // before (see Tables.expectedSchema) — name the drift up front instead of
    // letting it surface as N opaque per-query failures.
    Tables.schemaDrift(spark, sfDir)
      .foreach(w => System.err.println(s"[schema-canary] $w"))
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      // repartition(1), not coalesce(1): coalesce would narrow the query's
      // whole final stage (for shuffle-free projections: the entire query)
      // onto one task; repartition shuffles only the small result.
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Full JSON escaping matters here: a tab or CR in builder-authored SQL
    // would otherwise make the driver's json.load fail and silently zero
    // the round's correctness.
    def q(s: String): String = graft.util.Json.quote(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
