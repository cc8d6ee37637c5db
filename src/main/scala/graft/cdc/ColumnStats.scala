package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.Try

/** TABLE-LEVEL column statistics for the cost-based optimizer (q278; public
  * design points: ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS, Delta/
  * Iceberg table-level stats feeding Spark CBO). The connector already
  * reports BYTES (q236 — byte-based auto-broadcast); Spark's CBO can
  * consume much more per leaf: row count, and per-column NDV / min / max /
  * null count / value widths — the numbers join REORDER and join-output
  * cardinality estimation actually run on. This module computes them in
  * ONE distributed pass over the live snapshot ([[analyze]] — explicit,
  * like every engine's ANALYZE: never at planning time), persists them
  * beside the layout meta as `.graft_colstats`, and the scans serve them
  * through `SupportsReportStatistics.columnStats` — so a 3-table join over
  * graft tables reorders and broadcasts on REAL numbers at 100 TB.
  *
  * Staleness contract: statistics are ESTIMATES by CBO's own contract
  * (Delta/Iceberg serve stale stats identically) — they steer plans, never
  * answers. The stamp records the commit sequence at analyze time for
  * observability; re-run [[analyze]] on whatever cadence the deployment's
  * churn demands.
  *
  * Kinds mirror [[FileStats]]' canonical domains: 'i' integral, 'a' date
  * (epoch days), 'd' float/double, 'b' boolean, 's' string. min/max are
  * served to Catalyst only for the numeric/date kinds (string ranges are
  * not consumed by estimation); NDV/nulls/widths serve for every kind.
  */
object ColumnStats {

  private def statsPath(target: Path) = new Path(target, ".graft_colstats")

  /** One equi-height histogram (q285): `height` rows per bin, bins as
    * (lo, hi, ndv) in the double domain Catalyst estimation runs in
    * (integers as-is, dates as epoch days). */
  case class Hist(height: Double, bins: Seq[(Double, Double, Long)])

  /** One column's table-level statistics in the canonical string domain. */
  case class ColStat(kind: Char, ndv: Long, nulls: Long,
      mn: Option[String], mx: Option[String], avgLen: Long, maxLen: Long,
      hist: Option[Hist] = None)

  /** The table's statistics: live row count, an estimated in-memory size
    * (rows x estimated row width — the number broadcast selection wants;
    * raw file bytes over-count a mor table's superseded versions), the
    * commit sequence at analyze time, and the tracked columns. */
  case class TableStats(rows: Long, sizeBytes: Long, seq: Long,
      cols: Map[String, ColStat])

  private def kindOf(dt: DataType): Option[Char] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some('i')
    case DateType                                      => Some('a')
    case TimestampType | TimestampNTZType              => Some('t') // epoch µs
    case FloatType | DoubleType                        => Some('d')
    case BooleanType                                   => Some('b')
    case StringType                                    => Some('s')
    case _                                             => None
  }

  private def fixedLen(dt: DataType): Long = dt match {
    case BooleanType | ByteType => 1L
    case ShortType => 2L
    case IntegerType | FloatType | DateType => 4L
    case _ => 8L
  }

  /** ONE distributed pass over the live snapshot: count + per-column
    * NDV, nulls, min/max, and (strings) average/max length — all aggregates
    * in a single `agg` so the table is read once. Fenced as a meta-only
    * commit (stats swap atomically via [[graft.util.AtomicFile]]); the
    * pass itself is the same read any full query pays.
    *
    * `approx` (q286): exact NDV uses `count_distinct`, which Spark plans
    * as an Expand over the tracked columns — the scanned rows multiply by
    * the column count. At 100 TB the right mode is
    * `approx_count_distinct`: ONE pass, fixed-size mergeable HLL registers
    * per column, no Expand — CBO is an estimator anyway (the default RSD
    * ~2.3% is far inside estimation's error budget, and the spec audits
    * the bound against the exact pass). Exact stays the default: the
    * oracle gates pin exact NDVs.
    *
    * `histogramBins` > 1 (q285) additionally builds an EQUI-HEIGHT
    * histogram per numeric/date column — the skew signal NDV alone cannot
    * carry (uniform-NDV estimation makes a 90%-heavy value look like
    * rows/ndv). Bounds come from the distributed exact-quantile engine
    * (q167/q279's discipline — deterministic, no sampling); per-bin NDV
    * from one bin-keyed aggregate (a shuffle of (bin, value) pairs, NOT an
    * Expand). Cost: two column-pruned passes per histogram column, paid
    * only when requested — at 100 TB that is the documented trade for
    * skew-correct selectivity on the columns a deployment filters by. */
  def analyze(spark: SparkSession, targetDir: String, approx: Boolean = false,
      histogramBins: Int = 0): TableStats =
    CdcApplier.withCommitTicketRecorded(spark, targetDir,
      (_: TableStats) => Some(Seq.empty))(
      analyzeInner(spark, targetDir, approx, histogramBins))

  private def analyzeInner(spark: SparkSession, targetDir: String,
      approx: Boolean, histogramBins: Int): TableStats = {
    require(histogramBins == 0 || histogramBins > 1,
      "histogram_bins must be 0 (off) or >= 2")
    val target = new Path(targetDir)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = target.getFileSystem(hconf)
    val snap = CdcApplier.snapshot(spark, targetDir)
      .drop(CdcApplier.POS) // layout offset — not a user predicate column
    val tracked = snap.schema.fields
      .flatMap(f => kindOf(f.dataType).map(k => (f.name, f.dataType, k))).toSeq
    def ndvAgg(c: String) =
      if (approx) approx_count_distinct(col(c)).as(s"ndv_$c")
      else count_distinct(col(c)).as(s"ndv_$c")
    val aggs = count(lit(1)).as("_rows") +: tracked.flatMap { case (c, dt, k) =>
      val base = Seq(
        ndvAgg(c),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"),
        min(col(c)).as(s"mn_$c"),
        max(col(c)).as(s"mx_$c"))
      if (k == 's')
        base ++ Seq(avg(length(col(c))).as(s"avg_$c"),
          max(length(col(c))).as(s"maxl_$c"))
      else base
    }
    val row = snap.agg(aggs.head, aggs.tail: _*).collect()(0)
    val rows = row.getAs[Long]("_rows")
    def canon(k: Char, v: Any): Option[String] = Option(v).flatMap(x => Try(k match {
      case 'i' => x.asInstanceOf[Number].longValue.toString
      case 'a' => x match { // both collect() date encodings (java8API conf)
        case d: java.sql.Date       => d.toLocalDate.toEpochDay.toString
        case d: java.time.LocalDate => d.toEpochDay.toString
      }
      case 't' => x match { // epoch MICROS; sessions run UTC, so the TZ and
        // NTZ forms agree with DuckDB's epoch_us over the same parquet
        case t: java.sql.Timestamp =>
          (Math.floorDiv(t.getTime, 1000L) * 1000000L +
            (t.getNanos / 1000L) % 1000000L).toString
        case t: java.time.Instant =>
          (t.getEpochSecond * 1000000L + t.getNano / 1000L).toString
        case t: java.time.LocalDateTime =>
          val i = t.toInstant(java.time.ZoneOffset.UTC)
          (i.getEpochSecond * 1000000L + i.getNano / 1000L).toString
      }
      case 'd' => x.asInstanceOf[Number].doubleValue.toString
      case 'b' => if (x.asInstanceOf[Boolean]) "1" else "0"
      case 's' => java.util.Base64.getEncoder.encodeToString(
        x.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }).toOption)
    // Histograms for ALL numeric/date columns from ONE melted table pass
    // (optimization r15, guide §2.3): the per-column form paid two full
    // column-pruned passes per histogram column; the melt pre-aggregates
    // to per-(column, value) counts map-side, so the one shuffle carries
    // distinct values, and both the quantile bounds and the per-bin NDVs
    // derive from that NDV-sized frame.
    val histInput =
      if (histogramBins > 1)
        tracked.collect { case (c, _, k) if "iad".contains(k) =>
          (c, k, rows - row.getAs[Long](s"nulls_$c"),
            canon(k, row.getAs[Any](s"mn_$c")), canon(k, row.getAs[Any](s"mx_$c")))
        }
      else Seq.empty
    val hists = equiHeightAll(spark, snap, histInput, histogramBins)
    val cols = tracked.map { case (c, dt, k) =>
      val (avgLen, maxLen) =
        if (k == 's') {
          val a = Option(row.getAs[Any](s"avg_$c"))
            .map(_.asInstanceOf[Number].doubleValue).getOrElse(0.0)
          val m = Option(row.getAs[Any](s"maxl_$c"))
            .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
          (math.ceil(a).toLong, m)
        } else (fixedLen(dt), fixedLen(dt))
      val nulls = row.getAs[Long](s"nulls_$c")
      val mnC = canon(k, row.getAs[Any](s"mn_$c"))
      val mxC = canon(k, row.getAs[Any](s"mx_$c"))
      c -> ColStat(k, row.getAs[Long](s"ndv_$c"), nulls, mnC, mxC,
        avgLen, maxLen, hists.get(c))
    }.toMap
    // estimated in-memory size: per-row overhead + column widths — the
    // broadcast-selection number (raw file bytes over-count mor history)
    val rowWidth = 8L + cols.values.map(_.avgLen).sum
    val stats = TableStats(rows, math.max(1L, rows * rowWidth),
      CdcApplier.commitSeq(fs, target), cols)
    write(spark, targetDir, stats)
    spark.catalog.refreshByPath(targetDir)
    stats
  }

  /** Equi-height histograms for EVERY numeric/date column in ONE table
    * pass (q285; optimization r15, guide §2.3 "aggregate before you
    * shuffle"): the columns melt to (column-idx, value) pairs that
    * pre-aggregate map-side to per-value counts, so the single shuffle
    * carries distinct (column, value) rows — never the table. Bounds
    * follow R-7 / `quantile_cont` interpolation over the value-count
    * frame's cumulative ranks, BIT-IDENTICAL to the exact-quantile
    * engine's (same lo/hi rank values, same double expressions — locked
    * by Round15Spec against Spark's own `percentile`); per-bin NDV is a
    * count of distinct values per bin over the same frame. A value on a
    * repeated quantile bound (the heavy-hitter shape) occupies a run of
    * SINGLETON bins (lo == hi, ndv 1) — exactly the signal
    * equality-selectivity estimation sums over.
    *
    * Replaces the per-column form (exact-quantile pass + bin-keyed
    * count_distinct pass = TWO full passes per histogram column): at
    * 100 TB an ANALYZE with h histogram columns now reads the table once
    * instead of 2h times, and every post-melt step is NDV-sized.
    * `cols`: (name, kind, nonNullRows, canonical min, canonical max). */
  private def equiHeightAll(spark: SparkSession,
      snap: org.apache.spark.sql.DataFrame,
      cols: Seq[(String, Char, Long, Option[String], Option[String])],
      k: Int): Map[String, Hist] = {
    if (cols.isEmpty) return Map.empty
    val resolved = scala.collection.mutable.Map.empty[String, Hist]
    // constant / empty columns resolve without any pass — the same
    // short-circuits as the per-column form
    val varying = cols.flatMap { case (c, kind, nonNull, mnC, mxC) =>
      if (nonNull <= 0) None
      else (mnC.map(_.toDouble), mxC.map(_.toDouble)) match {
        case (Some(lo), Some(hi)) if lo == hi =>
          resolved(c) = Hist(nonNull.toDouble, Seq((lo, hi, 1L))); None
        case (Some(lo), Some(hi)) => Some((c, kind, nonNull, lo, hi))
        case _ => None
      }
    }
    if (varying.isEmpty) return resolved.toMap
    def asD(c: String, kind: Char) = kind match {
      case 'a' => unix_date(col(c)).cast("double")
      case _   => col(c).cast("double")
    }
    val pairs = varying.zipWithIndex.map { case ((c, kind, _, _, _), i) =>
      struct(lit(i).as("_i"), asD(c, kind).as("_hv"))
    }
    // the ONE table pass; materialized once (NDV-sized) — the bounds
    // derivation and the bin-NDV aggregation both read it
    val vc = snap
      .select(explode(array(pairs: _*)).as("_s"))
      .select(col("_s._i").as("_i"), col("_s._hv").as("_hv"))
      .filter(col("_hv").isNotNull)
      .groupBy(col("_i"), col("_hv")).agg(count(lit(1)).as("_c"))
      .localCheckpoint()
    // the checkpoint's blocks are released on every exit, so repeated
    // ANALYZEs never accumulate cached RDDs
    try {
      // R-7 bounds: a value-count row covers global 0-based ranks
      // [cum - c, cum); the value at rank r is the covering row's. Keep only
      // rows covering some quantile's floor/ceil rank — ≤ 2(k-1) rows per
      // column reach the driver (the contract-bounded collect class).
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("_i")).orderBy(col("_hv"))
      val cum = vc
        .withColumn("_cum",
          sum(col("_c")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("_n", sum(col("_c")).over(Window.partitionBy(col("_i"))))
      val needed = (1 until k).map { j =>
        val h = (col("_n") - lit(1L)).cast("double") * lit(j.toDouble / k)
        val loR = floor(h); val hiR = ceil(h)
        (col("_cum") - col("_c") <= loR && loR < col("_cum")) ||
          (col("_cum") - col("_c") <= hiR && hiR < col("_cum"))
      }.reduce(_ || _)
      val picked = cum.filter(needed)
        .select(col("_i"), col("_hv"), (col("_cum") - col("_c")).as("_lo"),
          col("_cum").as("_hi"), col("_n"))
        .collect()
      val byCol = picked.groupBy(_.getInt(0))
      val interiorOf = varying.zipWithIndex.flatMap { case ((c, _, _, _, _), i) =>
        byCol.get(i).map { rowsI =>
          val n = rowsI.head.getAs[Long]("_n")
          def valueAt(r: Long): Double = rowsI.find(x =>
            x.getAs[Long]("_lo") <= r && r < x.getAs[Long]("_hi"))
            .getOrElse(throw new IllegalStateException(
              s"histogram rank $r uncovered for '$c'")).getAs[Double]("_hv")
          // Spark's Percentile interpolation formula, verbatim (the
          // exact-quantile engine's outCols expression in driver math —
          // identical IEEE ops over identical operands)
          c -> (1 until k).map { j =>
            val h = (n - 1).toDouble * (j.toDouble / k)
            val loR = math.floor(h).toLong; val hiR = math.ceil(h).toLong
            if (loR == hiR) valueAt(loR)
            else valueAt(loR) * (hiR - h) + valueAt(hiR) * (h - loR)
          }
        }
      }.toMap
      // per-bin NDV over the same frame: bin id = #{interior bounds strictly
      // below the value} (boundary values land in the LOWER bin, repeated
      // bounds leave singleton runs); rows are distinct values, so a plain
      // count per (column, bin) IS the bin's NDV
      val binAssign = varying.zipWithIndex.foldLeft(lit(-1)) {
        case (acc, ((c, _, _, _, _), i)) =>
          interiorOf.get(c).fold(acc) { interior =>
            val e = interior.map(b =>
              when(lit(b) < col("_hv"), 1).otherwise(0)).reduce(_ + _)
            when(col("_i") === i, e).otherwise(acc)
          }
      }
      val perBin = vc.withColumn("_bin", binAssign)
        .groupBy(col("_i"), col("_bin")).agg(count(lit(1)).as("_ndv"))
        .collect()
        .map(r => (r.getInt(0), r.getAs[Int]("_bin")) -> r.getAs[Long]("_ndv"))
        .toMap
      varying.zipWithIndex.foreach { case ((c, _, nonNull, lo, hi), i) =>
        interiorOf.get(c).foreach { interior =>
          val bounds = lo +: interior :+ hi
          val bins = (0 until k).map(j =>
            (bounds(j), bounds(j + 1), math.max(1L, perBin.getOrElse((i, j), 1L))))
          resolved(c) = Hist(nonNull.toDouble / k, bins)
        }
      }
    } finally vc.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))
    resolved.toMap
  }

  private def write(spark: SparkSession, targetDir: String, s: TableStats): Unit = {
    val target = new Path(targetDir)
    graft.util.AtomicFile.write(spark.sparkContext.hadoopConfiguration,
      statsPath(target),
      s"rows=${s.rows}\nsize=${s.sizeBytes}\nseq=${s.seq}\n" +
        s.cols.toSeq.sortBy(_._1).map { case (c, st) =>
          Seq(c, st.kind.toString, st.ndv.toString, st.nulls.toString,
            st.mn.getOrElse(""), st.mx.getOrElse(""),
            st.avgLen.toString, st.maxLen.toString).mkString("\t")
        }.mkString("\n") +
        // histograms ride as separate `#hist` lines so the 8-field column
        // lines keep their shape (a reader without histogram support skips
        // them; see the read() fallthrough)
        s.cols.toSeq.sortBy(_._1).collect { case (c, st) if st.hist.isDefined =>
          val h = st.hist.get
          s"\n#hist\t$c\t${h.height}\t" +
            h.bins.map { case (lo, hi, ndv) => s"$lo:$hi:$ndv" }.mkString(";")
        }.mkString)
  }

  /** The persisted statistics, or None (never analyzed / unreadable —
    * serving NO stats is always safe, the scans fall back to bytes). */
  def read(spark: SparkSession, targetDir: String): Option[TableStats] = Try {
    graft.util.AtomicFile.read(spark.sparkContext.hadoopConfiguration,
      statsPath(new Path(targetDir))).map { body =>
      val lines = body.linesIterator.toSeq
      val kv = lines.takeWhile(_.contains("=")).map(_.split("=", 2))
        .collect { case Array(k, v) => k -> v }.toMap
      val colLines = lines.dropWhile(_.contains("=")).filter(_.nonEmpty)
      val hists = colLines.filter(_.startsWith("#hist\t")).flatMap { l =>
        l.split("\t", -1) match {
          case Array(_, c, height, bins) => Try {
            c -> Hist(height.toDouble, bins.split(";").toSeq.map { b =>
              val Array(lo, hi, ndv) = b.split(":")
              (lo.toDouble, hi.toDouble, ndv.toLong)
            })
          }.toOption
          case _ => None
        }
      }.toMap
      val cols = colLines.filterNot(_.startsWith("#")).flatMap { l =>
        l.split("\t", -1) match {
          case Array(c, k, ndv, nulls, mn, mx, al, ml) if k.length == 1 =>
            Some(c -> ColStat(k.head, ndv.toLong, nulls.toLong,
              if (mn.isEmpty) None else Some(mn),
              if (mx.isEmpty) None else Some(mx), al.toLong, ml.toLong,
              hists.get(c)))
          case _ => None
        }
      }.toMap
      TableStats(kv("rows").toLong, kv("size").toLong,
        kv.getOrElse("seq", "0").toLong, cols)
    }
  }.toOption.flatten

  /** The Catalyst-internal min/max value for one canonical stat, typed to
    * the column Spark serves — only kinds estimation consumes (numeric /
    * date / boolean); None otherwise. */
  private def internal(kind: Char, canon: String, dt: DataType): Option[Any] = Try {
    (kind, dt) match {
      case ('i', ByteType)    => canon.toLong.toByte
      case ('i', ShortType)   => canon.toLong.toShort
      case ('i', IntegerType) => canon.toLong.toInt
      case ('i', LongType)    => canon.toLong
      case ('a', DateType)    => canon.toLong.toInt // epoch days
      case ('t', TimestampType | TimestampNTZType) => canon.toLong // epoch µs
      case ('d', FloatType)   => canon.toDouble.toFloat
      case ('d', DoubleType)  => canon.toDouble
      case ('b', BooleanType) => canon == "1"
      case _ => return None
    }
  }.toOption

  /** The V2 `columnStats` map for a scan serving `schema` — built from the
    * persisted table statistics; empty when never analyzed. */
  def v2ColumnStats(spark: SparkSession, targetDir: String, schema: StructType)
      : java.util.Map[org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    val out = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    read(spark, targetDir).foreach { ts =>
      schema.fields.foreach { f =>
        ts.cols.get(f.name).foreach { st =>
          val mnI = st.mn.flatMap(internal(st.kind, _, f.dataType))
          val mxI = st.mx.flatMap(internal(st.kind, _, f.dataType))
          out.put(
            org.apache.spark.sql.connector.expressions.Expressions.column(f.name),
            new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(st.ndv)
              override def nullCount(): java.util.OptionalLong =
                java.util.OptionalLong.of(st.nulls)
              override def min(): java.util.Optional[Object] =
                mnI.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty[Object]())
              override def max(): java.util.Optional[Object] =
                mxI.map(v => java.util.Optional.of(v.asInstanceOf[Object]))
                  .getOrElse(java.util.Optional.empty[Object]())
              override def avgLen(): java.util.OptionalLong =
                java.util.OptionalLong.of(st.avgLen)
              override def maxLen(): java.util.OptionalLong =
                java.util.OptionalLong.of(st.maxLen)
              // q285: the equi-height histogram, when analyzed with bins —
              // Catalyst's transformV2Stats folds it into the leaf's
              // ColumnStat, where FilterEstimation runs skew-correct
              // equality/range selectivity instead of uniform rows/NDV
              override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                st.hist.map { h =>
                  java.util.Optional.of(
                    new org.apache.spark.sql.connector.read.colstats.Histogram {
                      override def height(): Double = h.height
                      override def bins(): Array[
                          org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                        h.bins.map { case (l, u, n) =>
                          new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                            override def lo(): Double = l
                            override def hi(): Double = u
                            override def ndv(): Long = n
                          }
                        }.toArray
                    })
                }.getOrElse(java.util.Optional.empty())
            })
        }
      }
    }
    out
  }
}
