package graft.cdc

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.sources._

/** File-level data-skipping statistics (q250) — per-file min/max/null-count
  * sidecars collected at PUBLISH time, consumed by the connector's scans to
  * skip whole files whose value ranges exclude a pushed predicate.
  *
  * The problem this closes: bucket pruning is KEY-only. A predicate on a
  * non-key column (status, date, price) lists and opens EVERY file in EVERY
  * bucket before parquet row-group statistics engage — at 100 TB with
  * thousands of files per bucket that is a footer-open storm on every
  * query. The lake formats solved this with per-file column statistics in
  * the table metadata (public design point: Delta Lake `stats` per add-file,
  * Iceberg manifest `lower_bounds`/`upper_bounds`); this is that design on
  * the graft layout: each bucket directory carries a `_graft_filestats`
  * sidecar (one line per data file: row count + per-column min/max/null
  * count), written through the same crash-safe rename as every other
  * metadata file and SWAPPED WITH ITS BUCKET by the publish protocol — the
  * stats can never describe files a reader cannot see.
  *
  * Cost model: footers are opened once per file at WRITE time (bounded by
  * the batch's own file count, amortized over every future read) instead of
  * once per file per QUERY. Readers pay one small sidecar read per covered
  * bucket — the same I/O class as the directory listing they already do.
  *
  * Correctness rules (mirrors the row-group pushdown discipline in
  * [[graft.sources.GraftBatchScan]]):
  *  - Spark re-evaluates every pushed predicate above the scan, so a
  *    MATCHING file wrongly kept costs performance only. The matcher is
  *    therefore conservative: any unknown (missing sidecar, missing file
  *    entry, missing column, untracked type, parse surprise) KEEPS the file.
  *  - Copy-on-write: any pushed predicate may skip files (one version per
  *    key; dropped non-matching rows were filtered above anyway).
  *  - Merge-on-read: ONLY predicates over PK columns may skip (all of a
  *    key's versions agree on its PK, so a skipped file holds no version of
  *    any surviving key — a non-key predicate could skip the file holding a
  *    key's WINNING version while an older version survives elsewhere).
  *    Callers enforce this split; the matcher itself is storage-agnostic.
  *  - Tombstones are ordinary rows here: a skipped file's tombstones
  *    belonged to keys that fail the predicate above the resolve anyway.
  *
  * Canonical value domains keep the comparison logic tiny: integral → long,
  * date → epoch day (long), fractional → double, string → UTF-8 bytes
  * compared unsigned (parquet's own binary comparator — Java's UTF-16
  * `compareTo` disagrees beyond the BMP), boolean → 0/1. Timestamps and
  * exotic types are NOT tracked (absent column = never skip on it), exactly
  * the stats-pushable set q246 established for footer aggregates.
  */
object FileStats {

  /** Sidecar file name inside each bucket directory. The `_` prefix keeps
    * it invisible to parquet directory reads (Spark's file index skips
    * `_`/`.`-prefixed files), and the bucket-swap publish protocol moves it
    * atomically with the data files it describes. */
  val SIDECAR = "_graft_filestats"

  /** One column's file-level statistics in its canonical domain. `mn`/`mx`
    * are None when parquet suppressed the range (e.g. NaN-bearing doubles)
    * or every row is null. `nulls` is -1 when any row group left its null
    * count UNSET (legal in the format) — the matcher treats that as
    * unknown, never as zero. */
  case class ColStats(kind: Char, nulls: Long, mn: Option[String], mx: Option[String])

  /** One data file's statistics: total rows + tracked columns. */
  case class FileEntry(rows: Long, cols: Map[String, ColStats])

  // ======================================================================
  // producer — footer → canonical stats, at publish time
  // ======================================================================

  /** The canonical kind of a parquet primitive column, or None for types
    * this engine does not track (timestamps, unsigned ints, decimals,
    * INT96, fixed-length binary). */
  private def kindOf(pt: org.apache.parquet.schema.PrimitiveType): Option[Char] = {
    val lt = pt.getLogicalTypeAnnotation
    pt.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT32 => lt match {
        case null => Some('i')
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => Some('a')
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation if i.isSigned => Some('i')
        case _ => None
      }
      case PrimitiveTypeName.INT64 => lt match {
        case null => Some('i')
        case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation if i.isSigned => Some('i')
        case _ => None // timestamps live here — not tracked (q246 precedent)
      }
      case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE => Some('d')
      case PrimitiveTypeName.BOOLEAN => Some('b')
      case PrimitiveTypeName.BINARY => lt match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => Some('s')
        case _ => None
      }
      case _ => None
    }
  }

  /** Canonical encoding of one statistics value. */
  private def canonOf(kind: Char, v: AnyRef): Option[String] = Try {
    kind match {
      case 'i' | 'a' => v.asInstanceOf[java.lang.Number].longValue.toString
      case 'd'       => v.asInstanceOf[java.lang.Number].doubleValue.toString
      case 'b'       => if (v.asInstanceOf[java.lang.Boolean]) "1" else "0"
      case 's' => Base64.getEncoder.encodeToString(
        v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
    }
  }.toOption

  /** Compare two canonical values of one kind. Strings compare as UNSIGNED
    * UTF-8 bytes — parquet's comparator, so the skip decision agrees with
    * how the writer ordered the stats. */
  private def cmp(kind: Char, a: String, b: String): Int = kind match {
    case 'i' | 'a' | 'b' => java.lang.Long.compare(a.toLong, b.toLong)
    case 'd'             => java.lang.Double.compare(a.toDouble, b.toDouble)
    case 's' =>
      val x = Base64.getDecoder.decode(a); val y = Base64.getDecoder.decode(b)
      var i = 0
      while (i < x.length && i < y.length) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      x.length - y.length
  }

  /** Collect one file's statistics from its footer: per-column min/max in
    * the canonical domain, null counts, row count — merged across row
    * groups. A column whose statistics are missing in ANY block (stats
    * suppressed, e.g. NaN) keeps its null count only when every block
    * reported one, and loses its range. */
  def collect(fs: FileSystem, st: FileStatus): Option[FileEntry] = Try {
    val rdr = ParquetFileReader.open(HadoopInputFile.fromStatus(st, fs.getConf))
    try {
      val footer = rdr.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // tracked top-level primitive columns (nested paths are not served
      // at file level — row-group pushdown still covers them)
      val cols = scala.collection.mutable.LinkedHashMap.empty[String, ColStats]
      val names = blocks.headOption.map(_.getColumns.asScala
        .filter(_.getPath.size == 1).map(_.getPath.toDotString).toSeq)
        .getOrElse(Seq.empty)
      names.foreach { name =>
        val chunks = blocks.flatMap(_.getColumns.asScala.find(c =>
          c.getPath.size == 1 && c.getPath.toDotString == name))
        if (chunks.size == blocks.size) {
          kindOf(chunks.head.getPrimitiveType).foreach { kind =>
            val stats = chunks.map(_.getStatistics)
            if (stats.forall(s => s != null && !s.isEmpty)) {
              val nulls =
                if (stats.forall(s => s.isNumNullsSet && s.getNumNulls >= 0))
                  stats.map(_.getNumNulls).sum
                else -1L // unknown — never treated as zero
              // a block with rows but no range (NaN suppression) poisons
              // the file's range; all-null blocks contribute nothing
              val ranged = chunks.zip(stats).forall { case (c, s) =>
                s.hasNonNullValue || s.getNumNulls == c.getValueCount
              }
              val (mn, mx) =
                if (!ranged || stats.forall(!_.hasNonNullValue)) (None, None)
                else {
                  val mins = stats.filter(_.hasNonNullValue)
                    .flatMap(s => canonOf(kind, s.genericGetMin.asInstanceOf[AnyRef]))
                  val maxs = stats.filter(_.hasNonNullValue)
                    .flatMap(s => canonOf(kind, s.genericGetMax.asInstanceOf[AnyRef]))
                  if (mins.size != stats.count(_.hasNonNullValue) ||
                      maxs.size != stats.count(_.hasNonNullValue)) (None, None)
                  else (Some(mins.min(Ordering.fromLessThan[String](cmp(kind, _, _) < 0))),
                        Some(maxs.max(Ordering.fromLessThan[String](cmp(kind, _, _) < 0))))
                }
              cols.put(name, ColStats(kind, nulls, mn, mx))
            }
          }
        }
      }
      FileEntry(rows, cols.toMap)
    } finally rdr.close()
  }.toOption

  // ---- sidecar serialization (tab-separated; string ranges are base64,
  //      so no field can contain a tab) ---------------------------------

  private def fmtEntry(name: String, e: FileEntry): String =
    (Seq(name, e.rows.toString) ++ e.cols.toSeq.sortBy(_._1).flatMap {
      case (c, s) => Seq(c, s.kind.toString, s.nulls.toString,
        s.mn.getOrElse(""), s.mx.getOrElse(""))
    }).mkString("\t")

  private def parseEntry(line: String): Option[(String, FileEntry)] = Try {
    val f = line.split("\t", -1)
    val cols = f.drop(2).grouped(5).collect {
      case Array(c, k, n, mn, mx) if k.length == 1 =>
        c -> ColStats(k.head, n.toLong,
          if (mn.isEmpty) None else Some(mn), if (mx.isEmpty) None else Some(mx))
    }.toMap
    f(0) -> FileEntry(f(1).toLong, cols)
  }.toOption

  /** A data file of a bucket dir: not a `_`-prefixed marker or sidecar,
    * not a `.`-prefixed hidden file (checksums, backups). */
  private[graft] def isDataFile(st: FileStatus): Boolean =
    st.isFile && !st.getPath.getName.startsWith("_") &&
      !st.getPath.getName.startsWith(".")

  /** Bounded collection pool: footer opens are independent metadata I/O,
    * and a copy-on-write swap can land dozens of small files per bucket
    * per batch — collecting them serially put a footer-open STORM on every
    * publish (measured: +40% on the streaming-lifecycle bench arm).
    * Daemon threads; sized for metadata parallelism, not compute. */
  private lazy val pool = java.util.concurrent.Executors.newFixedThreadPool(
    16,
    (r: Runnable) => {
      val t = new Thread(r, "graft-filestats")
      t.setDaemon(true)
      t
    })

  private def collectAll(fs: FileSystem, files: Seq[FileStatus]): Seq[(String, FileEntry)] = {
    import scala.jdk.CollectionConverters._
    val tasks = files.map { st =>
      new java.util.concurrent.Callable[Option[(String, FileEntry)]] {
        override def call(): Option[(String, FileEntry)] =
          collect(fs, st).map(e => st.getPath.getName -> e)
      }
    }
    pool.invokeAll(tasks.asJava).asScala.toSeq.flatMap(f => Try(f.get()).toOption.flatten)
  }

  /** [[collectAll]] over (bucket dir, file) pairs in ONE pooled pass,
    * grouped back per bucket dir. */
  private def collectAllKeyed(fs: FileSystem,
      files: Seq[(Path, FileStatus)]): Map[Path, Seq[(String, FileEntry)]] = {
    import scala.jdk.CollectionConverters._
    val tasks = files.map { case (d, st) =>
      new java.util.concurrent.Callable[Option[(Path, (String, FileEntry))]] {
        override def call(): Option[(Path, (String, FileEntry))] =
          collect(fs, st).map(e => d -> (st.getPath.getName -> e))
      }
    }
    pool.invokeAll(tasks.asJava).asScala.toSeq
      .flatMap(f => Try(f.get()).toOption.flatten)
      .groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2) }
  }

  /** (Re)write one bucket directory's sidecar from its current data files —
    * the whole-bucket form every bucket-swap publisher uses (the files are
    * freshly written, so each footer is opened exactly once, at write
    * time, [[collectAll]]-parallel). Best-effort by design: a failure
    * leaves no/partial stats, which readers treat as "cannot skip". */
  def writeSidecar(fs: FileSystem, bucketDir: Path): Unit =
    writeSidecars(fs, Seq(bucketDir))

  /** Multi-bucket form — ONE pooled footer pass over every bucket's files
    * (a publish touches many buckets; collecting them bucket-by-bucket
    * serialized on the per-bucket file count instead of the pool width). */
  def writeSidecars(fs: FileSystem, bucketDirs: Seq[Path]): Unit = Try {
    val byDir = bucketDirs.flatMap { d =>
      Try(fs.listStatus(d).filter(isDataFile).toSeq).getOrElse(Seq.empty)
        .map(st => d -> st)
    }
    val entries = collectAllKeyed(fs, byDir)
    writeAll(fs, bucketDirs.map(d => d ->
      entries.getOrElse(d, Seq.empty).sortBy(_._1)
        .map { case (n, e) => fmtEntry(n, e) }))
  }

  /** Pooled sidecar-file writes — each atomic write is ~6 filesystem
    * metadata ops, so a publish touching many buckets pays one write
    * LATENCY, not one per bucket. Independent paths; failures are
    * per-bucket best-effort like everything else here. */
  private def writeAll(fs: FileSystem, perDir: Seq[(Path, Seq[String])]): Unit = {
    import scala.jdk.CollectionConverters._
    val tasks = perDir.collect { case (d, lines) if lines.nonEmpty =>
      new java.util.concurrent.Callable[Unit] {
        override def call(): Unit =
          graft.util.AtomicFile.write(fs.getConf, new Path(d, SIDECAR),
            lines.mkString("\n"))
      }
    }
    if (tasks.nonEmpty)
      pool.invokeAll(tasks.asJava).asScala.foreach(f => Try(f.get()))
  }

  /** Merge entries for freshly-appended delta files into a live bucket's
    * sidecar (the merge-on-read apply path — deltas rename in one by one,
    * so the sidecar is extended, not rebuilt). Runs AFTER the renames: a
    * crash in between leaves the new files unlisted, i.e. never skipped. */
  def appendSidecar(fs: FileSystem, bucketDir: Path, newFiles: Seq[Path]): Unit =
    appendSidecars(fs, Map(bucketDir -> newFiles))

  /** Multi-bucket append — one pooled footer pass across every bucket's
    * fresh delta files (the mor publish's counterpart of [[writeSidecars]]).
    * Returns the entries it collected (optimization r15, guide §1.2): the
    * mor publish derives its per-bucket max-position watermarks from this
    * SAME footer pass instead of a distributed read-back of the files it
    * just wrote. Still best-effort — a failure returns empty and the
    * caller falls back to the read. */
  def appendSidecars(fs: FileSystem, byDir: Map[Path, Seq[Path]])
      : Map[Path, Seq[(String, FileEntry)]] = Try {
    val pairs = byDir.toSeq.flatMap { case (d, files) =>
      files.flatMap(p => Try(fs.getFileStatus(p)).toOption.map(st => d -> st))
    }
    val added = collectAllKeyed(fs, pairs)
    writeAll(fs, byDir.keys.toSeq.map(d => d ->
      (readSidecar(fs, d) ++ added.getOrElse(d, Seq.empty))
        .toSeq.sortBy(_._1).map { case (n, e) => fmtEntry(n, e) }))
    added
  }.getOrElse(Map.empty)

  // ======================================================================
  // consumer — sidecar + pushed predicates → the files worth opening
  // ======================================================================

  /** The bucket's recorded stats, empty when absent/unreadable. */
  def readSidecar(fs: FileSystem, bucketDir: Path): Map[String, FileEntry] =
    graft.util.AtomicFile.read(fs.getConf, new Path(bucketDir, SIDECAR))
      .map(_.linesIterator.flatMap(parseEntry).toMap)
      .getOrElse(Map.empty)

  /** Literal → canonical domain of `kind`; None = cannot compare (keep). */
  private def litCanon(kind: Char, v: Any): Option[String] = Try {
    (kind, v) match {
      case ('i', n: java.lang.Number) => Some(n.longValue.toString)
      case ('d', n: java.lang.Number) => Some(n.doubleValue.toString)
      case ('a', d: java.sql.Date)      => Some(d.toLocalDate.toEpochDay.toString)
      case ('a', d: java.time.LocalDate) => Some(d.toEpochDay.toString)
      case ('b', b: java.lang.Boolean) => Some(if (b) "1" else "0")
      case ('s', s: String) =>
        Some(Base64.getEncoder.encodeToString(s.getBytes(UTF_8)))
      case _ => None
    }
  }.toOption.flatten

  /** `true` iff the file MAY hold a row satisfying `f` — the standard
    * min/max pruning algebra. Conservative on every unknown. */
  def mayMatch(e: FileEntry, f: Filter): Boolean = {
    def stats(a: String): Option[ColStats] = e.cols.get(a)
    def allNull(s: ColStats): Boolean = s.nulls >= 0 && e.rows > 0 && s.nulls == e.rows
    // range test: Some(false) = provably no match, otherwise keep
    def withRange(a: String, v: Any)(test: (Char, String, String, String) => Boolean): Boolean =
      stats(a) match {
        case Some(s) if allNull(s) => false // comparisons never match null
        case Some(ColStats(kind, _, Some(mn), Some(mx))) =>
          litCanon(kind, v) match {
            case Some(c) => Try(test(kind, c, mn, mx)).getOrElse(true)
            case None    => true
          }
        case _ => true
      }
    f match {
      case EqualTo(a, v) =>
        withRange(a, v)((k, c, mn, mx) => cmp(k, c, mn) >= 0 && cmp(k, c, mx) <= 0)
      case EqualNullSafe(a, null) => stats(a).forall(_.nulls != 0)
      case EqualNullSafe(a, v) =>
        withRange(a, v)((k, c, mn, mx) => cmp(k, c, mn) >= 0 && cmp(k, c, mx) <= 0)
      case In(a, vs) =>
        if (vs.isEmpty) false
        else vs.exists(v => withRange(a, v)((k, c, mn, mx) =>
          cmp(k, c, mn) >= 0 && cmp(k, c, mx) <= 0))
      case GreaterThan(a, v) => withRange(a, v)((k, c, _, mx) => cmp(k, mx, c) > 0)
      case GreaterThanOrEqual(a, v) => withRange(a, v)((k, c, _, mx) => cmp(k, mx, c) >= 0)
      case LessThan(a, v) => withRange(a, v)((k, c, mn, _) => cmp(k, mn, c) < 0)
      case LessThanOrEqual(a, v) => withRange(a, v)((k, c, mn, _) => cmp(k, mn, c) <= 0)
      case IsNull(a) => stats(a).forall(_.nulls != 0) // -1 (unknown) keeps
      case IsNotNull(a) => stats(a).forall(s => !allNull(s))
      case StringStartsWith(a, v) =>
        withRange(a, v)((k, c, mn, mx) =>
          k == 's' && {
            // strings with prefix v live in [v, succ(v)); succ = v with its
            // last non-0xFF byte incremented (all-0xFF ⇒ no upper bound)
            val vb = Base64.getDecoder.decode(c)
            val below = cmp(k, mx, c) >= 0
            val above = {
              val cut = vb.lastIndexWhere(b => (b & 0xff) != 0xff)
              if (cut < 0) true
              else {
                val succ = vb.take(cut + 1)
                succ(cut) = (succ(cut) + 1).toByte
                cmp(k, mn, Base64.getEncoder.encodeToString(succ)) < 0
              }
            }
            below && above
          } || k != 's')
      case And(l, r) => mayMatch(e, l) && mayMatch(e, r)
      case Or(l, r)  => mayMatch(e, l) || mayMatch(e, r)
      case _ => true
    }
  }

  /** One bucket directory's skip decision: (files to read, total data
    * files). Files without a sidecar entry are kept (unknown). */
  def selectBucketFiles(fs: FileSystem, bucketDir: Path,
      filters: Seq[Filter]): (Seq[FileStatus], Int) = {
    val files = if (fs.exists(bucketDir))
      fs.listStatus(bucketDir).filter(isDataFile).toSeq.sortBy(_.getPath.getName)
    else Seq.empty
    if (filters.isEmpty) return (files, files.size)
    val side = readSidecar(fs, bucketDir)
    if (side.isEmpty) return (files, files.size)
    val kept = files.filter { st =>
      side.get(st.getPath.getName)
        .forall(e => Try(filters.forall(mayMatch(e, _))).getOrElse(true))
    }
    (kept, files.size)
  }

  /** Reader-side ordering verdict for ONE bucket directory (q262): can its
    * data files be CONCATENATED in some order so the stream stays sorted by
    * the layout's sort columns? Returns (file names in ascending min-order
    * of physical column `c`, depth): 2 = ranges on `c` are STRICTLY
    * disjoint across files (the full write-time sort-column list holds
    * across the concatenation), 1 = ranges touch only at equal boundaries
    * (order holds on `c` alone), 0 = overlap / missing stats / nulls on `c`
    * (no provable order — the consumer falls back to sorting). A bucket
    * with ≤1 data file is trivially full-depth. Conservative everywhere:
    * refusal costs a Sort above the scan, never correctness. */
  def bucketFileOrder(fs: FileSystem, bucketDir: Path, c: String)
      : (Seq[String], Int) = {
    val files =
      (if (fs.exists(bucketDir)) fs.listStatus(bucketDir).filter(isDataFile).toSeq
       else Seq.empty).map(_.getPath.getName).sorted
    if (files.size <= 1) return (files, 2)
    val side = readSidecar(fs, bucketDir)
    val ranges = files.map(f => side.get(f).flatMap(e => e.cols.get(c).flatMap(s =>
      for { mn <- s.mn; mx <- s.mx; if s.nulls == 0 } yield (s.kind, mn, mx))))
    if (ranges.exists(_.isEmpty)) return (files, 0)
    val kind = ranges.head.get._1
    val byMin = files.zip(ranges.map(_.get))
      .sortWith((a, b) => cmp(kind, a._2._2, b._2._2) < 0 ||
        (cmp(kind, a._2._2, b._2._2) == 0 && a._1 < b._1))
    var depth = 2
    byMin.sliding(2).foreach {
      case Seq((_, (_, _, mx1)), (_, (_, mn2, _))) =>
        val d = cmp(kind, mx1, mn2)
        if (d > 0) depth = 0 else if (d == 0) depth = math.min(depth, 1)
      case _ => ()
    }
    (byMin.map(_._1), depth)
  }
}
