package replbench

import java.math.{BigDecimal => JBigDecimal}
import java.sql.Date

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** TPC-H-shaped `orders` and `lineitem`, generated as pure functions of
  * their keys, so the harness can rebuild any stored row to check an answer.
  * Orders 1..`orders` each carry 1..7 lines (4 on average). */
final case class Data(orders: Int) {
  import Data._

  def lines(ok: Long): Int = 1 + (mix(ok * 31 + 7) % 7).toInt

  def orderRow(ok: Long): Row = {
    val h = mix(ok ^ 0x5bd1e995L)
    Row(ok, custkey(ok), Status((h % 3).toInt),
      money(100000 + (mix(h) % 40000000L)),
      day(8035 + (mix(h + 1) % 2400).toInt),
      Priority((mix(h + 2) % 5).toInt),
      f"Clerk#${mix(h + 3) % 1000}%09d", 0, comment(h + 4, 19 + (h % 30).toInt))
  }

  def custkey(ok: Long): Long = 1 + mix(ok ^ 0x7f4a7c15L) % (orders / 10).max(1)

  /** Line `ln` of order `ok`; `v` > 0 yields the `v`-th updated image. */
  def lineRow(ok: Long, ln: Int, v: Long = 0L): Row = {
    val h = mix(ok * 8 + ln + v * 0x9e3779b97f4a7c15L)
    val qty = 1 + (h % 50)
    val ship = 8036 + (mix(h + 1) % 2500).toInt
    Row(ok, 1 + mix(h + 2) % 20000, 1 + mix(h + 3) % 1000, ln,
      money(qty * 100), money(qty * (90000 + mix(h + 4) % 10000000L) / 10),
      money(mix(h + 5) % 11), money(mix(h + 6) % 9),
      ReturnFlag((mix(h + 7) % 3).toInt), if (ship > 9300) "O" else "F",
      day(ship), day(ship - 30 + (mix(h + 8) % 60).toInt),
      day(ship + 1 + (mix(h + 9) % 30).toInt),
      Instruct((mix(h + 10) % 4).toInt), Mode((mix(h + 11) % 7).toInt),
      comment(h + 12, 10 + (h % 33).toInt))
  }

  /** Every base lineitem key, packed as `orderkey * 8 + linenumber`. */
  def baseKeys: Array[Long] =
    (1L to orders).iterator.flatMap(ok => (1 to lines(ok)).iterator.map(ln => ok * 8 + ln)).toArray

  /** Writes both tables as parquet under `dir` (once per data version). */
  def write(spark: SparkSession, dir: String): Unit = {
    val n = orders
    val slices = spark.sparkContext.defaultParallelism * 2
    val d = this
    val li = spark.sparkContext.parallelize(1L to n, slices)
      .flatMap(ok => (1 to d.lines(ok)).map(ln => d.lineRow(ok, ln)))
    spark.createDataFrame(li, LineitemSchema).write.parquet(s"$dir/lineitem")
    val od = spark.sparkContext.parallelize(1L to n, slices).map(ok => d.orderRow(ok))
    spark.createDataFrame(od, OrdersSchema).write.parquet(s"$dir/orders")
  }
}

object Data {
  val Money: DecimalType = DecimalType(12, 2)

  val LineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, false), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType, false),
    StructField("l_quantity", Money), StructField("l_extendedprice", Money),
    StructField("l_discount", Money), StructField("l_tax", Money),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", DateType), StructField("l_commitdate", DateType),
    StructField("l_receiptdate", DateType), StructField("l_shipinstruct", StringType),
    StructField("l_shipmode", StringType), StructField("l_comment", StringType)))

  val OrdersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, false), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", Money),
    StructField("o_orderdate", DateType), StructField("o_orderpriority", StringType),
    StructField("o_clerk", StringType), StructField("o_shippriority", IntegerType),
    StructField("o_comment", StringType)))

  val LineitemPk: Seq[String] = Seq("l_orderkey", "l_linenumber")

  /** The CDC envelope `StreamingPipeline.applyMicroBatch` consumes. */
  val EnvelopeSchema: StructType = StructType(Seq(
    StructField("table", StringType), StructField("op", StringType),
    StructField("next_position", LongType),
    StructField("before", LineitemSchema), StructField("after", LineitemSchema)))

  private val Status = Array("F", "O", "P")
  val Priority: Array[String] = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val ReturnFlag = Array("A", "N", "R")
  private val Instruct = Array("DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN")
  private val Mode = Array("REG AIR", "AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB")
  private val Words = Array("furiously", "quickly", "carefully", "blithely", "slyly",
    "regular", "final", "express", "pending", "ironic", "bold", "silent", "even",
    "deposits", "requests", "accounts", "packages", "theodolites", "pinto", "beans")

  /** splitmix64 finalizer, folded to a non-negative long. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)) & Long.MaxValue
  }

  private def money(cents: Long): JBigDecimal = JBigDecimal.valueOf(cents, 2)
  private def day(epochDay: Int): Date = Date.valueOf(java.time.LocalDate.ofEpochDay(epochDay))
  private def comment(h: Long, len: Int): String = {
    val sb = new StringBuilder
    var i = 0L
    while (sb.length < len) {
      if (sb.nonEmpty) sb.append(' ')
      sb.append(Words((mix(h + i) % Words.length).toInt)); i += 1
    }
    sb.substring(0, len)
  }

  def unpack(k: Long): (Long, Int) = (k >>> 3, (k & 7).toInt)

  /** Rows as a local DataFrame (a `LocalRelation`: nothing left to compute). */
  def local(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** A canonical string for row comparison across the Spark boundary. */
  def canon(r: Row): String = r.toSeq.map {
    case null => "∅"
    case d: JBigDecimal => d.setScale(2).toPlainString
    case x => x.toString
  }.mkString("|")
}
