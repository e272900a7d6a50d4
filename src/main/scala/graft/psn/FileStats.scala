package graft.psn

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.LogicalTypeAnnotation

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}

/** File-level min/max statistics for data skipping — the lakehouse
  * mechanism that makes selective scans of a 100 TB table cheap: a reader
  * with a predicate consults per-file column ranges and opens only the
  * files that can possibly match, so scan cost follows the SELECTED data,
  * not the table (BigQuery does this with clustered tables; Delta/Iceberg
  * with add-file stats — reference usage: the nightly job's delta filter,
  * /root/reference/main.py:254-284, which at warehouse scale must not
  * rescan the full profile table).
  *
  * Stats come from PARQUET FOOTERS, never from a data scan: every file
  * already carries per-column-chunk min/max/null-count, so deriving table
  * stats is O(files) metadata reads — the same discipline as
  * [[TableStore.compact]] (cost follows file count, not bytes). The
  * sidecar is versioned beside the commit log (`_stats.v<N>`) and keyed to
  * the snapshot it describes; a file the sidecar does not cover is always
  * KEPT (conservative), so pruning can never change results — only cost.
  *
  * Column kinds are collected only where the footer ordering provably
  * matches Spark's comparison semantics: signed ints/longs, float/double
  * (NaN-poisoned stats are dropped), UTF-8 strings (parquet's unsigned
  * byte order IS Spark's UTF8String order), DATE (days), and
  * TIMESTAMP(MICROS|MILLIS). Everything else (INT96, decimals, nested) is
  * skipped → those columns simply never prune.
  */
object FileStats {

  /** Comparable domain of one column's footer stats. */
  sealed trait Kind { def tag: String }
  case object KLong extends Kind { val tag = "long" }
  case object KDouble extends Kind { val tag = "double" }
  case object KString extends Kind { val tag = "string" }
  case object KDate extends Kind { val tag = "date" } // epoch days
  case object KTsMicros extends Kind { val tag = "tsus" }
  case object KTsMillis extends Kind { val tag = "tsms" }

  private val kinds: Map[String, Kind] =
    Seq(KLong, KDouble, KString, KDate, KTsMicros, KTsMillis)
      .map(k => k.tag -> k).toMap

  /** One column's merged (across row groups) chunk statistics. min/max are
    * the canonical string forms parsed per kind. */
  final case class ColStats(kind: Kind, min: String, max: String,
      nullCount: Long)

  /** One data file: path relative to the snapshot root + row count +
    * per-column stats (only columns with usable footer stats appear) +
    * optional per-column Bloom filters over the CANONICAL-STRING hash of
    * the value ([[canonEq]] — the equality-lookup skipping min/max cannot
    * provide on high-cardinality keys). */
  final case class FileStat(relPath: String, rows: Long,
      cols: Map[String, ColStats],
      blooms: Map[String, Array[Byte]] = Map.empty)

  // ---------------------------------------------------------------- footer

  /** Footer row count only — the metadata-only COUNT(*) primitive. */
  def rowCount(conf: Configuration, file: Path): Long = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), conf))
    try r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
    finally r.close()
  }

  /** Top-level PHYSICAL column names in one file's footer — the
    * resurrection guard for metadata-only ADD COLUMN
    * ([[TableStore.addColumn]]): a name that still exists physically in
    * any current data file must not be re-declared, or the old bytes
    * would silently resurface under the new declaration. One footer
    * read, no data I/O. */
  def physicalColumns(conf: Configuration, file: Path): Set[String] = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), conf))
    try r.getFooter.getFileMetaData.getSchema
      .getFields.asScala.map(_.getName).toSet
    finally r.close()
  }

  /** Read one file's footer into a [[FileStat]]. Top-level primitive
    * columns only (a dotted path is a nested field — Spark's comparison
    * semantics for those don't reduce to chunk min/max). */
  def ofFile(conf: Configuration, root: Path, file: Path): FileStat = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), conf))
    try {
      val blocks = r.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // (column -> per-block (kind, min, max, nulls)); a block with
      // missing/empty stats poisons the whole column (None).
      val perCol = scala.collection.mutable.Map[String,
        Option[(Kind, String, String, Long)]]()
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { c =>
          val name = c.getPath.toDotString
          if (!name.contains('.')) {
            val next = chunkStats(c)
            perCol(name) = perCol.get(name) match {
              case None => next // first block for this column
              case Some(None) => None // a statless block poisons the column
              case Some(Some(a)) => next match {
                case Some(n) if a._1 == n._1 =>
                  Some((a._1,
                    if (le(a._1, a._2, n._2)) a._2 else n._2,
                    if (le(a._1, n._3, a._3)) a._3 else n._3,
                    a._4 + n._4))
                case _ => None
              }
            }
          }
        }
      }
      FileStat(root.relativize(file).toString, rows,
        perCol.collect { case (n, Some((k, mn, mx, nu))) =>
          n -> ColStats(k, mn, mx, nu) }.toMap)
    } finally r.close()
  }

  /** One chunk's stats as (kind, min, max, nulls) canonical strings; None
    * when the footer carries nothing usable for pruning. */
  private def chunkStats(c: org.apache.parquet.hadoop.metadata
      .ColumnChunkMetaData): Option[(Kind, String, String, Long)] = {
    val st = c.getStatistics
    if (st == null || st.isEmpty || !st.hasNonNullValue) return None
    val pt = c.getPrimitiveType
    val ann = pt.getLogicalTypeAnnotation
    val kind: Option[Kind] = pt.getPrimitiveTypeName match {
      case _ if ann.isInstanceOf[
          LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] => None
      case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 => ann match {
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => Some(KDate)
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MICROS => Some(KTsMicros)
            case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(KTsMillis)
            case _ => None
          }
        case _ => Some(KLong)
      }
      case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE => Some(KDouble)
      case PrimitiveTypeName.BINARY if ann.isInstanceOf[
          LogicalTypeAnnotation.StringLogicalTypeAnnotation] => Some(KString)
      case _ => None // INT96, FIXED_LEN_BYTE_ARRAY, BOOLEAN, raw BINARY
    }
    kind.flatMap { k =>
      val (mn, mx) = (canon(st.genericGetMin), canon(st.genericGetMax))
      // A NaN anywhere makes float/double footer stats untrustworthy
      // (parquet writers disagree on NaN ordering) — drop the column.
      if (k == KDouble && (mn == "NaN" || mx == "NaN")) None
      else Some((k, mn, mx, st.getNumNulls))
    }
  }

  private def canon(v: Any): String = v match {
    case b: Binary => b.toStringUsingUTF8
    case x => String.valueOf(x)
  }

  /** kind-aware a <= b on canonical strings. Strings compare by UTF-8
    * bytes UNSIGNED — parquet's UnsignedLexicographical order, which is
    * also UTF8String's (code-point order), NOT Java String's UTF-16 order. */
  private[psn] def le(k: Kind, a: String, b: String): Boolean = k match {
    case KString => utf8Le(a, b)
    case KDouble => a.toDouble <= b.toDouble
    case _ => a.toLong <= b.toLong
  }

  private def utf8Le(a: String, b: String): Boolean = {
    val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    var i = 0
    while (i < x.length && i < y.length) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length <= y.length
  }

  // ------------------------------------------------------------ predicates

  /** Pruning literal — the typed value a predicate compares against. */
  sealed trait Lit
  final case class LLong(v: Long) extends Lit
  final case class LDouble(v: Double) extends Lit
  final case class LString(v: String) extends Lit
  final case class LDate(v: java.time.LocalDate) extends Lit
  final case class LTs(v: java.time.Instant) extends Lit
  /** IN-list literal — only meaningful under [[In]]. */
  final case class LSet(vs: Seq[Lit]) extends Lit

  sealed trait Op
  case object Eq extends Op
  case object Lt extends Op
  case object Le extends Op
  case object Gt extends Op
  case object Ge extends Op
  /** Multi-key point lookup: the ONE disjunction pruning can evaluate
    * per-file without per-disjunct file sets — a file survives iff ANY
    * listed key might be in it (range AND bloom per key). */
  case object In extends Op

  /** One conjunct: `col op lit`. Conjunction-only by design (the [[In]]
    * disjunction is file-local) — general OR pruning needs per-disjunct
    * file sets and is a different operator. */
  final case class Pred(column: String, op: Op, value: Lit)

  /** Convenience constructors mirroring Column operators. */
  def eqTo(c: String, v: Lit): Pred = Pred(c, Eq, v)
  def lt(c: String, v: Lit): Pred = Pred(c, Lt, v)
  def le(c: String, v: Lit): Pred = Pred(c, Le, v)
  def gt(c: String, v: Lit): Pred = Pred(c, Gt, v)
  def ge(c: String, v: Lit): Pred = Pred(c, Ge, v)
  def in(c: String, vs: Seq[Lit]): Pred = {
    require(vs.nonEmpty && !vs.exists(_.isInstanceOf[LSet]),
      "IN-list must be non-empty scalars")
    Pred(c, In, LSet(vs))
  }

  /** The predicate as the equivalent Spark Column — the residual filter
    * [[TableStore.readWhere]] always applies, so pruning is invisible to
    * results by construction. */
  def toColumn(p: Pred): Column = {
    def one(x: Lit): Column = x match {
      case LLong(v) => lit(v)
      case LDouble(v) => lit(v)
      case LString(v) => lit(v)
      case LDate(v) => lit(java.sql.Date.valueOf(v))
      case LTs(v) => lit(java.sql.Timestamp.from(v))
      case LSet(_) => throw new IllegalArgumentException(
        "LSet is only valid under the In op")
    }
    (p.op, p.value) match {
      case (In, LSet(vs)) => col(p.column).isin(vs.map(one): _*)
      case (In, v) => col(p.column) === one(v) // single-key IN
      case (Eq, v) => col(p.column) === one(v)
      case (Lt, v) => col(p.column) < one(v)
      case (Le, v) => col(p.column) <= one(v)
      case (Gt, v) => col(p.column) > one(v)
      case (Ge, v) => col(p.column) >= one(v)
    }
  }

  /** Can any row of `fs` match `p`? Missing column stats, kind/literal
    * mismatch → true (keep the file): skipping is only ever an
    * optimization, never a semantics change. Equality predicates
    * additionally consult the file's Bloom filter when one exists —
    * min/max is near-useless for a point lookup on a high-cardinality
    * key in a hash-distributed layout (every file's range spans the
    * domain); the bloom's "definitely absent" answer is what prunes. A
    * false positive just keeps a file — conservative by construction. */
  def mightMatch(fs: FileStat, p: Pred): Boolean = p match {
    case Pred(c, In, LSet(vs)) =>
      vs.exists(v => mightMatch(fs, Pred(c, Eq, v)))
    case Pred(_, In, _) => true // malformed IN: keep (never a wrong skip)
    case _ => rangeMatch(fs, p) && bloomMatch(fs, p)
  }

  private def rangeMatch(fs: FileStat, p: Pred): Boolean =
    fs.cols.get(p.column) match {
      case None => true
      case Some(cs) =>
        coerce(cs.kind, p.value) match {
          case None => true
          case Some(v) => p.op match {
            case Eq => le(cs.kind, cs.min, v) && le(cs.kind, v, cs.max)
            case Lt => le(cs.kind, cs.min, v) && cs.min != v
            case Le => le(cs.kind, cs.min, v)
            case Gt => le(cs.kind, v, cs.max) && cs.max != v
            case Ge => le(cs.kind, v, cs.max)
          }
        }
    }

  private def bloomMatch(fs: FileStat, p: Pred): Boolean =
    if (p.op != Eq) true
    else (fs.blooms.get(p.column), canonEq(p.value)) match {
      case (Some(bytes), Some(s)) =>
        org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(bytes))
          .mightContainLong(xx64(s))
      case _ => true
    }

  /** The canonical string an equality literal hashes through — MUST agree
    * with the build side's `xxhash64(CAST(col AS STRING))`
    * ([[TableStore.analyzeBloom]]). Spark's integral→string cast is the
    * plain decimal form, so int/long physical widths canonicalize
    * identically; doubles/dates/timestamps have cast forms that vary by
    * type and session and are NOT bloom-eligible (None → keep). */
  private def canonEq(l: Lit): Option[String] = l match {
    case LLong(v) => Some(v.toString)
    case LString(v) => Some(v)
    case _ => None
  }

  /** Driver-side xxhash64 (seed 42) of a string — the same expression the
    * build job evaluates per row, evaluated on a literal. */
  private[psn] def xx64(s: String): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.sql.types.StringType
    new XxHash64(Seq(Literal.create(s, StringType)))
      .eval(null).asInstanceOf[Long]
  }

  /** Literal → the column kind's canonical string form; None = can't
    * compare soundly (prune disabled for this conjunct on this file). */
  private def coerce(k: Kind, l: Lit): Option[String] = (k, l) match {
    case (KLong, LLong(v)) => Some(v.toString)
    case (KDouble, LDouble(v)) => Some(v.toString)
    case (KDouble, LLong(v)) => Some(v.toDouble.toString)
    case (KString, LString(v)) => Some(v)
    case (KDate, LDate(v)) => Some(v.toEpochDay.toString)
    case (KDate, LString(v)) =>
      try Some(java.time.LocalDate.parse(v).toEpochDay.toString)
      catch { case _: java.time.format.DateTimeParseException => None }
    case (KTsMicros, LTs(v)) =>
      Some((v.getEpochSecond * 1000000L + v.getNano / 1000L).toString)
    case (KTsMillis, LTs(v)) => Some(v.toEpochMilli.toString)
    case _ => None
  }

  // --------------------------------------------------------------- sidecar

  private def esc(s: String): String = s
    .replace("\\", "\\\\").replace("\t", "\\t")
    .replace("\n", "\\n").replace("\r", "\\r")

  private def unesc(s: String): String = {
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '\\' => b += '\\'; case 't' => b += '\t'
          case 'n' => b += '\n'; case 'r' => b += '\r'
          case o => b += o
        }
        i += 2
      } else { b += c; i += 1 }
    }
    b.toString
  }

  /** One table-level Bloom maintenance declaration: every file must carry
    * a filter for `column`, sized for `items` expected values at `fpp`.
    * Recorded in the sidecar so later analyzes rebuild with the SAME
    * parameters the user chose. */
  final case class BloomSpec(column: String, items: Long, fpp: Double)

  /** Serialize to the sidecar's line format (header + `B` bloom-config
    * lines + `f` file lines + `c` column lines + `b` per-file bloom
    * lines, base64; tab-separated, escaped). Line-oriented so the format
    * is append-tolerant and diff-able, like the commit markers. */
  def render(stats: Seq[FileStat], bloomSpecs: Seq[BloomSpec] = Nil): String = {
    val b = new StringBuilder("graft-stats v1\n")
    bloomSpecs.sortBy(_.column).foreach(s =>
      b ++= s"B\t${esc(s.column)}\t${s.items}\t${s.fpp}\n")
    stats.sortBy(_.relPath).foreach { f =>
      b ++= s"f\t${esc(f.relPath)}\t${f.rows}\n"
      f.cols.toSeq.sortBy(_._1).foreach { case (n, cs) =>
        b ++= s"c\t${esc(f.relPath)}\t${esc(n)}\t${cs.kind.tag}\t" +
          s"${cs.nullCount}\t${esc(cs.min)}\t${esc(cs.max)}\n"
      }
      f.blooms.toSeq.sortBy(_._1).foreach { case (n, bytes) =>
        b ++= s"b\t${esc(f.relPath)}\t${esc(n)}\t" +
          s"${java.util.Base64.getEncoder.encodeToString(bytes)}\n"
      }
    }
    b.toString
  }

  def parse(content: String): Map[String, FileStat] = {
    val files = scala.collection.mutable.Map[String, (Long,
      scala.collection.mutable.Map[String, ColStats],
      scala.collection.mutable.Map[String, Array[Byte]])]()
    content.linesIterator.foreach { line =>
      val parts = line.split('\t')
      parts(0) match {
        case "f" if parts.length == 3 =>
          files(unesc(parts(1))) =
            (parts(2).toLong, scala.collection.mutable.Map(),
              scala.collection.mutable.Map())
        case "c" if parts.length == 7 =>
          for (k <- kinds.get(parts(3)); f <- files.get(unesc(parts(1))))
            f._2(unesc(parts(2))) =
              ColStats(k, unesc(parts(5)), unesc(parts(6)), parts(4).toLong)
        case "b" if parts.length == 4 =>
          files.get(unesc(parts(1))).foreach(f =>
            f._3(unesc(parts(2))) =
              java.util.Base64.getDecoder.decode(parts(3)))
        case _ => () // header / config / unknown kinds: forward-compatible
      }
    }
    files.map { case (p, (rows, cols, blooms)) =>
      p -> FileStat(p, rows, cols.toMap, blooms.toMap) }.toMap
  }

  /** Bloom maintenance declarations the table opted into
    * ([[TableStore.analyzeBloom]]) — honored by every later analyze so
    * filters survive commits. */
  def parseBloomSpecs(content: String): Seq[BloomSpec] =
    content.linesIterator.flatMap { line =>
      val parts = line.split('\t')
      if (parts(0) == "B" && parts.length == 4)
        Some(BloomSpec(unesc(parts(1)), parts(2).toLong, parts(3).toDouble))
      else None
    }.toSeq.sortBy(_.column)

  def write(path: Path, stats: Seq[FileStat],
      bloomSpecs: Seq[BloomSpec] = Nil): Unit =
    TableStore.writeAtomically(path, render(stats, bloomSpecs))

  def load(path: Path): Map[String, FileStat] =
    if (!Files.exists(path)) Map.empty
    else parse(Files.readString(path))

  def loadBloomSpecs(path: Path): Seq[BloomSpec] =
    if (!Files.exists(path)) Nil
    else parseBloomSpecs(Files.readString(path))
}
