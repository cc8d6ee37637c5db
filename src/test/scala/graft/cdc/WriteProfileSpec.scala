package graft.cdc

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Records the committer settings every write job of the session saw. */
class RecordingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def setupJob(jobContext: JobContext): Unit = {
    val conf = jobContext.getConfiguration
    RecordingCommitProtocol.seen.add(path -> (
      conf.get(WriteProfileSpec.Version), conf.get(WriteProfileSpec.MarkSuccess)))
    super.setupJob(jobContext)
  }
}

object RecordingCommitProtocol {
  val seen = new ConcurrentLinkedQueue[(String, (String, String))]
}

case class ProfileRow(k: Int, grp: String, v: Double)

/** Graft's write profile (committer v2, no `_SUCCESS`) rides on graft's
  * own writes, so it holds in a session that never set either key. */
class WriteProfileSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  test("every graft write job sees committer v2 and no _SUCCESS marker from a plain session") {
    val s = spark.newSession()
    s.conf.set("spark.sql.sources.commitProtocolClass",
      classOf[RecordingCommitProtocol].getName)
    import s.implicits._
    val hconf = s.sparkContext.hadoopConfiguration
    assert(hconf.get(WriteProfileSpec.MarkSuccess) != "false" &&
      hconf.get(WriteProfileSpec.Version) != "2", "the session must not set the profile")
    RecordingCommitProtocol.seen.clear()

    val root = Files.createTempDirectory("graft_profile").toString
    val rows = Seq(ProfileRow(1, "a", 1.5), ProfileRow(2, "b", 2.5)).toDF()
    val opts = CdcApplier.Options(Seq("k"))
    // copy-on-write apply, merge-on-read apply, streaming view version
    CdcApplier.applyBatch(s, ChangeFeed.inserts(rows, lit(10L)), s"$root/cow", opts)
    CdcApplier.applyBatchMor(s, ChangeFeed.inserts(rows, lit(10L)), s"$root/mor", opts)
    val batch = rows.select(lit("insert").as("op"),
      lit(null).cast(rows.schema).as("before"), struct(rows.columns.map(col): _*).as("after"))
    IncrementalView.applyViewBatch(s, batch, 0L, s"$root/view", "grp", "v")

    import scala.jdk.CollectionConverters._
    val seen = RecordingCommitProtocol.seen.asScala.toSeq
    Seq("/cow", "/mor", "/view").foreach(t =>
      assert(seen.exists(_._1.contains(t)), s"no write job recorded under $t: $seen"))
    seen.foreach { case (p, profile) =>
      assert(profile == ("2" -> "false"), s"write to $p ran with $profile")
    }
    assert(CdcApplier.snapshot(s, s"$root/cow").count() == 2)
    assert(CdcApplier.snapshot(s, s"$root/mor").count() == 2)
  }
}

object WriteProfileSpec {
  val Version = "mapreduce.fileoutputcommitter.algorithm.version"
  val MarkSuccess = "mapreduce.fileoutputcommitter.marksuccessfuljobs"
}
