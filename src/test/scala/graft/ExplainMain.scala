package graft

import org.apache.spark.sql.catalyst.plans.logical.{Command, V2WriteCommand}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-capture harness for the optimization rounds: writes
  * `.explain("formatted")` of each named query's RETURNED frame to
  * `<outDir>/<name>_<tag>.txt` (the `plans/r15/` deliverable). Lifecycle
  * gates perform their side effects while the frame is constructed — the
  * captured plan is the one the gate's timed evaluation runs.
  *
  * Those side effects are writes the returned frame does not show, so the
  * formatted plan of every write command the gate ran while building its
  * frame goes, in execution order, to `<outDir>/<name>_<tag>.writes.txt`,
  * and that of every other query it ran (the in-gate reads and checks, as
  * executed, AQE's final plan included) to `<outDir>/<name>_<tag>.reads.txt`.
  *
  * Usage: sbt "Test/runMain graft.ExplainMain plans/r15 before q03_join_topk ..."
  */
object ExplainMain {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    new java.io.File(outDir).mkdirs()
    def save(file: String, text: String): Unit = {
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/$file"), text)
      println(s"wrote $outDir/$file")
    }
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"unknown query $name")
        case Some(fn) =>
          val writes = new java.util.concurrent.ConcurrentLinkedQueue[String]
          val reads = new java.util.concurrent.ConcurrentLinkedQueue[String]
          val listener = new QueryExecutionListener {
            override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
              qe.analyzed match {
                case _: DataWritingCommand | _: V2WriteCommand =>
                  writes.add(qe.explainString(FormattedMode))
                case _: Command =>
                case _ => reads.add(qe.explainString(FormattedMode))
              }
            override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
          }
          spark.listenerManager.register(listener)
          val df =
            try fn(spark, sfDir)
            finally {
              org.apache.spark.sql.graft.ListenerDrain(spark)
              spark.listenerManager.unregister(listener)
            }
          save(s"${name}_$tag.txt", df.queryExecution.explainString(FormattedMode))
          import scala.jdk.CollectionConverters._
          save(s"${name}_$tag.writes.txt", writes.asScala.zipWithIndex
            .map { case (p, i) => s"== write ${i + 1} ==\n$p" }.mkString("\n"))
          save(s"${name}_$tag.reads.txt", reads.asScala.zipWithIndex
            .map { case (p, i) => s"== read ${i + 1} ==\n$p" }.mkString("\n"))
      }
    }
    spark.stop()
  }
}
