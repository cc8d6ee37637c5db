package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Optimization-round measurement harness (guide §1): runs the named
  * queries once each and prints EVERY Spark job with its call site,
  * duration, task count and shuffle bytes — the per-job breakdown that
  * separates "the plan is slow" from "the harness runs many fixed-cost
  * jobs". Test scope: never ships, never alters the bench contract.
  *
  * Usage: sbt "Test/runMain graft.ProfileMain q283_create_index_ddl"
  */
object ProfileMain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.localSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    case class Job(id: Int, t0: Long, site: String, desc: String)
    val live = new java.util.concurrent.ConcurrentHashMap[Int, Job]
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Job, Long)]
    // (name, wallMs, execRunMs, tasks, shufR, shufW, serializeMs)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, Long, Long, Int, Long, Long, Long)]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = Option(e.properties.getProperty("callSite.short")).getOrElse("?")
        val desc = Option(e.properties.getProperty("spark.job.description")).getOrElse("")
        live.put(e.jobId, Job(e.jobId, System.nanoTime(), site, desc))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = live.remove(e.jobId)
        if (j != null) done.add((j, System.nanoTime() - j.t0))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        val si = e.stageInfo
        val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s)
          .getOrElse(0L)
        if (m != null) stages.add((si.name, wall, m.executorRunTime, si.numTasks,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.executorDeserializeTime + m.resultSerializationTime))
      }
    })

    // session warm-up, as in Bench
    Tables.load(spark, sfDir, "region").queryExecution.toRdd.foreach(_ => ())

    args.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"unknown query $name")
        case Some(fn) =>
          done.clear(); stages.clear()
          val t0 = System.nanoTime()
          fn(spark, sfDir).queryExecution.toRdd.foreach(_ => ())
          val total = (System.nanoTime() - t0) / 1e9
          Thread.sleep(200) // drain listener bus
          import scala.jdk.CollectionConverters._
          val jobs = done.asScala.toSeq.sortBy(_._1.id)
          val jobSum = jobs.map(_._2).sum / 1e9
          println(f"== $name total=$total%.2fs jobs=${jobs.size} jobTime=$jobSum%.2fs gap=${total - jobSum}%.2fs")
          val sts = stages.asScala.toSeq
          val totTasks = sts.map(_._4).sum
          val totRun = sts.map(_._3).sum
          val totSer = sts.map(_._7).sum
          println(f"   stages=${sts.size} tasks=$totTasks execRunTime=${totRun / 1e3}%.1fs taskSerDeser=${totSer / 1e3}%.1fs")
          // aggregate by stage name (embeds the triggering call site)
          val byName = sts.groupBy(_._1).map { case (n, ss) =>
            (n, ss.size, ss.map(_._2).sum / 1e3, ss.map(_._3).sum / 1e3,
              ss.map(_._4).sum, ss.map(_._5).sum, ss.map(_._6).sum)
          }.toSeq.sortBy(-_._3)
          byName.take(18).foreach { case (n, c, wall, run, tk, sr, sw) =>
            println(f"   wall=$wall%7.2fs run=$run%7.2fs n=$c%-4d tasks=$tk%-5d shR=${sr / 1024}%8dK shW=${sw / 1024}%8dK  $n")
          }
      }
    }
    spark.stop()
  }
}
