package graft.catalog

import java.io.{BufferedReader, ByteArrayOutputStream, PrintStream, StringReader}
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{CdcApplier, ChangeFeed}

/** EP2: the scripted console exercises the full verb set end-to-end. */
class CatalogCliSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val f1 = CatalogFixtures.f1Json.replaceAll("\n", " ")

  test("scripted add/list/map/query/unmap/delete session") {
    val store = Files.createTempDirectory("graft_cli").toString
    val target = Files.createTempDirectory("graft_cli_t").toString + "/student"
    val rows = Seq((1, 1, 90, "ann", "a"), (2, 7, 80, "bob", "x"))
      .toDF("sn", "id", "score", "name", "rem")
    CdcApplier.applyBatch(spark, ChangeFeed.inserts(rows, col("sn").cast("long")),
      target, CdcApplier.Options(Seq("sn", "id")))

    val script = Seq(
      "help",
      s"add $f1",
      "list",
      "list mixfs.student",
      s"map mixfs.student $target",
      "unmap mixfs.student",
      "delete mixfs.student",
      "list",
      "bogus",
      "exit").mkString("\n")
    val outBuf = new ByteArrayOutputStream()
    val cat = new Catalog(spark, store)
    CatalogCli.run(cat, spark, new BufferedReader(new StringReader(script)),
      new PrintStream(outBuf, true, "UTF-8"))
    val out = outBuf.toString("UTF-8")

    assert(out.contains("added mixfs.student (spark table student2)"))
    assert(out.contains("mixfs.student -> student2 [pk: sn,id; 5 cols]"))
    assert(out.contains("\"sparkTableName\":\"student2\""))
    assert(out.contains("mapped mixfs.student -> queryable as student2"))
    assert(out.contains("deleted mixfs.student"))
    assert(out.contains("(no mappings)"))
    assert(out.contains("unknown command 'bogus'"))
  }

  /** jline's stream terminal runs a pty pump whose close races the
    * draining reader, so the feed blocks briefly at EOF instead of closing
    * (the REPL leaves via its own verbs or the ctrl-D byte, like a user). */
  private def keptOpen(data: Array[Byte]): java.io.InputStream = {
    val inner = new java.io.ByteArrayInputStream(data)
    new java.io.InputStream {
      override def read(): Int = {
        val r = inner.read()
        if (r >= 0) r
        else { try Thread.sleep(15000) catch { case _: InterruptedException => }; -1 }
      }
    }
  }

  private def replSession(store: String, scriptBytes: Array[Byte]): String = {
    val outBuf = new ByteArrayOutputStream()
    val terminal = org.jline.terminal.TerminalBuilder.builder()
      .system(false).streams(keptOpen(scriptBytes), outBuf).build()
    terminal.setSize(new org.jline.terminal.Size(80, 24))
    try CatalogCli.runJline(new Catalog(spark, store), spark, terminal)
    finally {
      // the pty's output pump copies into outBuf on its own thread and can
      // trail the REPL by the session's last few hundred bytes; close stops
      // it, so let it drain first
      var seen = -1
      while (outBuf.size != seen) { seen = outBuf.size; Thread.sleep(200) }
      terminal.close()
    }
    outBuf.toString("UTF-8")
  }

  test("jline REPL: piped session drives the same verb dispatch through the real reader") {
    val store = Files.createTempDirectory("graft_cli").toString
    val script = Seq(
      "help",
      s"add $f1",
      "list",
      "delete mixfs.student",
      "list",
      "exit").mkString("\n") + "\n"
    val out = replSession(store, script.getBytes("UTF-8"))
    assert(out.contains("graft> "), "REPL must prompt")
    assert(out.contains("added mixfs.student (spark table student2)"))
    assert(out.contains("mixfs.student -> student2 [pk: sn,id; 5 cols]"))
    assert(out.contains("deleted mixfs.student"))
    assert(out.contains("(no mappings)"))
  }

  test("jline REPL: ctrl-D leaves cleanly") {
    val store = Files.createTempDirectory("graft_cli").toString
    // no quit/exit: the EOT byte (what a user's ctrl-D sends) must end the loop
    val out = replSession(store, "list\n".getBytes("UTF-8") :+ 4.toByte)
    assert(out.contains("(no mappings)"))
  }

  test("errors are reported, not fatal") {
    val store = Files.createTempDirectory("graft_cli").toString
    val outBuf = new ByteArrayOutputStream()
    CatalogCli.run(new Catalog(spark, store), spark,
      new BufferedReader(new StringReader("add {broken\nlist\nquit")),
      new PrintStream(outBuf, true, "UTF-8"))
    val out = outBuf.toString("UTF-8")
    assert(out.contains("error:"))
    assert(out.contains("(no mappings)"))
  }
}
