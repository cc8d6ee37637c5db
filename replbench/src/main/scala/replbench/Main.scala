package replbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.SparkSession

/** Entry point: `replbench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --data DIR --out DIR [--commit ID]`. Prints one JSON result
  * line last (`"correct": false` when an output check failed); exits 3
  * without a result when the run was over capacity (an open-loop backlog
  * that kept growing yields no latency). */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, data: Path, out: Path, commit: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("data")).toAbsolutePath,
      Paths.get(need("out")).toAbsolutePath, m.getOrElse("commit", "unknown"))
  }

  /** A deployment-neutral session: all local cores, one shuffle partition
    * per core, UTC, no UI; the `bench` catalog is graft's. */
  def session(work: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("replbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.catalog.bench", "graft.catalog.GraftCatalog")
      .config("spark.sql.catalog.bench.root", work.resolve("catalog").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(args.work)
    watchAfterGc()
    val t0 = System.nanoTime()
    val spark = session(args.work, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(args.trace)
    tracer.attach(spark.sparkContext)
    val data = Data(Workloads.Orders)
    val src = ensureData(spark, data, args.data)
    Workloads.phase("session and data ready")
    val ctx = Workloads.Ctx(spark, tracer, data, src, args.work, args.seed, args.seconds)
    val res = args.workload match {
      case "cow_catchup" => Workloads.cowCatchup(ctx)
      case "mor_live"    => Workloads.morLive(ctx)
      case "sql_read"    => Workloads.sqlRead(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Workloads.phase("workload done")
    val rssMb = peakRssMb()
    val setupS = sessionS + res.setupS
    val e2e = mutable.LinkedHashMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "op_ms" -> (res.opMs, "ms"),
      "peak_mem_after_gc_mb" -> (peakAfterGc.get / 1048576.0, "MB"))
    tracer.drain()
    val layers = if (args.trace) res.layers else Nil
    val record = Seq(
      "workload" -> q(args.workload), "seed" -> args.seed.toString,
      "seconds" -> args.seconds.toString, "trace" -> (if (args.trace) "1" else "0"),
      "nproc" -> cores.toString, "xmx_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "spark" -> q(spark.version), "commit" -> q(args.commit),
      "session_s" -> fmt(sessionS), "peak_rss_mb" -> fmt(rssMb),
      "gc_ms" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum.toString, "samples" -> res.samples.size.toString,
      "op_samples_ms" -> (if (res.samples.size > 200) "null"
        else res.samples.map(fmt).mkString("[", ",", "]")),
      "over_capacity" -> res.overCapacity.toString,
      "checks" -> res.checks.map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}"),
      "report" -> res.report.map { case (k, v) => s"${q(k)}:${fmt(v)}" }.mkString("{", ",", "}"))
    spark.stop()
    Workloads.phase("session stopped")
    val metrics = (if (args.trace) layers.map { case (k, v, u) => (k, (v, u)) } else e2e.toSeq)
      .map { case (k, (v, u)) => s"${q(k)}:{${q("value")}:${fmt(v)},${q("unit")}:${q(u)}}" }
      .mkString("{", ",", "}")
    val line = s"""{"correct":${res.correct},"attempted":${res.attempted},""" +
      s""""failed":${res.failed},"metrics":$metrics}"""
    Files.createDirectories(args.out)
    val tag = s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
    Files.writeString(args.out.resolve(s"$tag.json"),
      record.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", s",${q("result")}:$line}\n"))
    if (args.trace) tracer.writeSpans(args.out.resolve(s"$tag.spans.jsonl"))
    res.checks.filter(_._2 != "ok").foreach { case (k, v) => System.err.println(s"[replbench] check $k: $v") }
    if (res.overCapacity) {
      System.err.println(s"[replbench] ${args.workload}: over capacity (backlog grew); no latency reported")
      sys.exit(3)
    }
    println(line)
    Workloads.phase("result printed")
  }

  /** The base tables, generated once per data version and reused. */
  def ensureData(spark: SparkSession, data: Data, root: Path): Path = {
    val dir = root.resolve(s"v1-orders${data.orders}")
    if (!Files.exists(dir.resolve("_READY"))) {
      val tmp = root.resolve(s"tmp-${ProcessHandle.current().pid()}")
      data.write(spark, tmp.toString)
      Files.writeString(tmp.resolve("_READY"), "")
      if (Files.exists(dir)) Workloads.deleteTree(dir)
      Files.move(tmp, dir)
    }
    dir
  }

  /** The largest memory in use just after a collection, from JVM start to
    * the end of the workload's timed part: every pool, heap and non-heap, as
    * the collector reports it. */
  val peakAfterGc = new java.util.concurrent.atomic.AtomicLong
  def watchAfterGc(): Unit =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) =>
          if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            if (info.getGcInfo.getStartTime < Workloads.measuredAtMs) peakAfterGc.accumulateAndGet(
              info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum, math.max)
          }, null, null)
      case _ =>
    }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
