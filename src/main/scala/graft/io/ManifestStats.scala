package graft.io

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Per-file column statistics (min/max zone maps) riding the snapshot
  * manifest — Iceberg's `lower_bounds`/`upper_bounds`, the piece that turns
  * a predicate on ANY statted column into file-level skipping before a
  * single data byte is read. The reference's only pushdown is projection
  * (/root/reference/src/graph_loader.rs:978-1026); this is the engine's
  * equivalent leap on the predicate side: at 100 TB, a time-range or
  * id-range query should touch the handful of files whose ranges overlap,
  * not every file of every bucket.
  *
  * Mechanics:
  *  - Each writing task reads back the parquet FOOTERS of the files it has
  *    just closed and encodes min/max per top-level column and the exact
  *    row count; they travel to the driver with each path, so a commit
  *    opens no file. Entries carry forward from the parent manifest for
  *    unchanged files, exactly like sizes.
  *  - A writer that truncates string statistics
  *    (`parquet.statistics.truncate.length`) records bounds that still
  *    prune but are no column values: the max is marked ([[exact]]), and
  *    metadata MIN/MAX refuses marked bounds.
  *  - They ride the manifest as [[DataFile.stats]] (`"colstats"`, see
  *    [[Manifest]] for the encoding).
  *  - Pruning is CONSERVATIVE by construction: a column absent from a
  *    file's entry (no stats in footer, unsupported type, value too long)
  *    simply never excludes that file, and unsupported predicate shapes
  *    exclude nothing.
  *
  * Stats are best-effort metadata: a failure to read one footer degrades
  * that file to "never skipped", never fails the commit.
  */
object ManifestStats {

  /** Strings longer than this are not recorded: a truncated lower bound
    * would still be valid but a truncated UPPER bound is wrong without
    * Iceberg's increment-last-byte trick, and long strings (html, text)
    * are poor zone-map material anyway.
    */
  private val MaxStringLen = 64

  /** Appended to the max bound of a string column whose footer bounds the
    * writer may have truncated: parquet keeps a prefix of the min and rounds
    * a cut max up, so both remain valid zone-map bounds — the marked max
    * too, as the mark is the largest code point — but neither need be a
    * value of the file.
    */
  private val InexactMark = new String(Character.toChars(Character.MAX_CODE_POINT))

  /** Column → (encoded min, encoded max) of one data file. */
  type FileStats = Map[String, (String, String)]

  // ---- commit side: parquet footer → manifest entry ------------------------

  /** One shared bare Configuration per JVM: constructing a fresh one per
    * footer read costs more than the read itself (measured ~8 ms/file,
    * dominated by conf+filesystem setup).
    */
  private lazy val hadoopConf = new org.apache.hadoop.conf.Configuration(false)

  /** One file's column stats (empty when nothing usable) AND its exact
    * row count, from ONE footer open. Never throws — stats are advisory:
    * row count -1 when the footer is unreadable (a -1 in the manifest
    * refuses metadata-only aggregation for the table, it never corrupts
    * it). `truncateLength` is the writer's
    * `parquet.statistics.truncate.length` (`Int.MaxValue`: no truncation):
    * a string bound of at most that many bytes may be a cut one, and its
    * column's max is marked.
    */
  def statsAndCount(file: Path, truncateLength: Int): (FileStats, Long) =
    try {
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), hadoopConf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks.asScala
        // column dotted path → merged (min, max) in encoded form. A column
        // missing usable stats in ANY block is dropped (the merge must
        // cover every row of the file).
        var merged: FileStats = Map.empty
        var dropped = Set.empty[String]
        var strings = Set.empty[String]
        for (b <- blocks; c <- b.getColumns.asScala) {
          val name = c.getPath.toDotString
          if (statKind(c) == "s") strings += name
          if (c.getPath.size() == 1 && !dropped(name)) {
            encodeStats(c) match {
              case Some((mn, mx)) =>
                merged += name -> (merged.get(name) match {
                  case Some((pmn, pmx)) =>
                    val dt = statKind(c)
                    (if (cmpEnc(dt, mn, pmn) < 0) mn else pmn,
                      if (cmpEnc(dt, mx, pmx) > 0) mx else pmx)
                  case None => (mn, mx)
                })
              case None => dropped += name; merged -= name
            }
          }
        }
        def mayBeCut(b: String): Boolean = truncateLength < Int.MaxValue &&
          UTF8String.fromString(b).numBytes() <= truncateLength
        val marked = merged.map {
          case (n, (mn, mx)) if strings(n) && (mayBeCut(mn) || mayBeCut(mx)) =>
            n -> (mn, mx + InexactMark)
          case e => e
        }
        (marked, blocks.iterator.map(_.getRowCount).sum)
      } finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => (Map.empty, -1L) }

  /** "l" = integral-compared, "d" = double-compared, "s" = string/bytes. */
  private def statKind(c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): String = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    c.getPrimitiveType.getPrimitiveTypeName match {
      case INT32 | INT64 | BOOLEAN => "l"
      case FLOAT | DOUBLE => "d"
      case BINARY => "s"
      case _ => "x"
    }
  }

  private def encodeStats(
      c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Option[(String, String)] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val st = c.getStatistics
    if (st == null || !st.hasNonNullValue) return None
    val ann = c.getPrimitiveType.getLogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    c.getPrimitiveType.getPrimitiveTypeName match {
      case INT32 | INT64 =>
        ann match {
          // Decimal-annotated ints would need scale handling — skip them.
          case _: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => None
          // Timestamp bounds are only usable when the file's unit is the
          // one Spark's internal representation (and our comparators/
          // decoders) assume: MICROS. A TIMESTAMP_MILLIS-written file's
          // bounds fed into the micros-based compare would mis-prune
          // scans and, worse, let metadata MIN/MAX return values 1000×
          // off — record nothing and both paths stay conservative.
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if t.getUnit != LogicalTypeAnnotation.TimeUnit.MICROS => None
          case _: LogicalTypeAnnotation.TimeLogicalTypeAnnotation => None
          case _ => Some((st.genericGetMin.toString, st.genericGetMax.toString))
        }
      case FLOAT | DOUBLE =>
        val mn = st.genericGetMin.toString.toDouble
        val mx = st.genericGetMax.toString.toDouble
        // Files containing NaN have unreliable double stats in older
        // writers; NaN bounds themselves are unusable for pruning.
        if (mn.isNaN || mx.isNaN) None
        else Some((st.genericGetMin.toString, st.genericGetMax.toString))
      case BOOLEAN =>
        Some((if (st.genericGetMin.asInstanceOf[Boolean]) "1" else "0",
          if (st.genericGetMax.asInstanceOf[Boolean]) "1" else "0"))
      case BINARY if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        val mn = st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
          .toStringUsingUTF8
        val mx = st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
          .toStringUsingUTF8
        if (mn.length > MaxStringLen || mx.length > MaxStringLen) None
        else Some((mn, mx))
      case _ => None
    }
  }

  private def cmpEnc(kind: String, a: String, b: String): Int = kind match {
    case "l" => java.lang.Long.compare(a.toLong, b.toLong)
    case "d" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case _ => utf8Cmp(a, b)
  }

  /** Spark compares strings as unsigned UTF-8 bytes (UTF8String order) —
    * Java String.compareTo (UTF-16 code units) disagrees above the BMP.
    */
  private def utf8Cmp(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** Apply a rename/drop re-keying to one carried-forward file's stats:
    * `rekey(old) = Some(new)` renames the stats key, `None` strips it.
    * Stats follow the FIELD's identity, not its name — after RENAME y TO x
    * the old files' y-values ARE column x under id resolution, so y's
    * bounds remain exact for x; after DROP x a stale x entry would alias
    * any later column reusing the name (silently wrong pruning), so it
    * must not survive the drop commit.
    */
  def rekey(stats: FileStats, rekey: Map[String, Option[String]]): FileStats =
    if (rekey.isEmpty) stats
    else stats.flatMap { case (n, b) => rekey.getOrElse(n, Some(n)).map(_ -> b) }

  // ---- pruning -------------------------------------------------------------

  /** Predicate shapes the zone maps can evaluate. Values are CATALYST
    * INTERNAL representations (Long micros for timestamps, Int days for
    * dates, UTF8String for strings) so one comparator serves every type.
    * The one front door is [[fromFilter]]: the filters Spark pushes to a
    * table scan, so every read — row-level deletes' predicate scans
    * included — prunes through the same translation.
    */
  sealed trait StatPred
  final case class Cmp(col: String, op: String, v: Any) extends StatPred
  final case class InVals(col: String, vs: Seq[Any]) extends StatPred
  final case class PrefixP(col: String, prefix: UTF8String) extends StatPred
  final case class AndP(l: StatPred, r: StatPred) extends StatPred
  final case class OrP(l: StatPred, r: StatPred) extends StatPred

  /** V1 source filter → StatPred (None = shape not prunable). External
    * values (Instant, LocalDate, java.sql types…) normalize to catalyst
    * internal form via Spark's own converters.
    *
    * Attribute names arrive as Spark pushes them: quoted where needed
    * (`` `a b` ``) and dotted for nested fields. They parse as multipart
    * identifiers; only single-part names (top-level columns) prune.
    */
  def fromFilter(f: org.apache.spark.sql.sources.Filter,
                 schema: StructType): Option[StatPred] = {
    import org.apache.spark.sql.sources._
    def column(attr: String): Option[String] =
      scala.util.Try(org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseMultipartIdentifier(attr)).toOption.collect { case Seq(c) => c }
    def conv(col: String, v: Any): Option[Any] =
      schema.fields.find(_.name == col).flatMap { fld =>
        if (v == null) None
        else scala.util.Try(
          org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToCatalystConverter(fld.dataType)(v)).toOption
      }
    def cmp(attr: String, op: String, v: Any): Option[StatPred] =
      for { c <- column(attr); cv <- conv(c, v) } yield Cmp(c, op, cv)
    f match {
      case EqualTo(a, v) => cmp(a, "=", v)
      case EqualNullSafe(a, v) if v != null => cmp(a, "=", v)
      case GreaterThan(a, v) => cmp(a, ">", v)
      case GreaterThanOrEqual(a, v) => cmp(a, ">=", v)
      case LessThan(a, v) => cmp(a, "<", v)
      case LessThanOrEqual(a, v) => cmp(a, "<=", v)
      case In(a, vs) if vs.nonEmpty && !vs.contains(null) =>
        column(a).flatMap { c =>
          val conved = vs.toSeq.map(conv(c, _))
          if (conved.forall(_.isDefined)) Some(InVals(c, conved.flatten))
          else None
        }
      case StringStartsWith(a, p) =>
        column(a).map(PrefixP(_, UTF8String.fromString(p)))
      case And(l, r) =>
        (fromFilter(l, schema), fromFilter(r, schema)) match {
          case (Some(a), Some(b)) => Some(AndP(a, b))
          case (a, b) => a.orElse(b) // half a conjunction still prunes
        }
      case Or(l, r) =>
        for { a <- fromFilter(l, schema); b <- fromFilter(r, schema) }
          yield OrP(a, b)
      case _ => None
    }
  }

  /** MAY the file (described by `stats`) contain a row satisfying `p`?
    * Missing stats, unknown columns, or un-comparable values → true.
    */
  def mayMatch(stats: FileStats, schema: StructType,
               p: StatPred): Boolean = p match {
    case AndP(l, r) => mayMatch(stats, schema, l) && mayMatch(stats, schema, r)
    case OrP(l, r) => mayMatch(stats, schema, l) || mayMatch(stats, schema, r)
    case Cmp(c, op, v) =>
      bounds(stats, schema, c) match {
        case None => true
        case Some((cmpMin, cmpMax)) =>
          scala.util.Try {
            val dMin = cmpMin(v) // cmp(min, v)
            val dMax = cmpMax(v) // cmp(max, v)
            op match {
              case "=" => dMin <= 0 && dMax >= 0
              case ">" => dMax > 0
              case ">=" => dMax >= 0
              case "<" => dMin < 0
              case "<=" => dMin <= 0
              case _ => true
            }
          }.getOrElse(true)
      }
    case InVals(c, vs) =>
      bounds(stats, schema, c) match {
        case None => true
        case Some((cmpMin, cmpMax)) =>
          vs.exists(v => scala.util.Try(
            cmpMin(v) <= 0 && cmpMax(v) >= 0).getOrElse(true))
      }
    case PrefixP(c, prefix) =>
      (for {
        (mn, mx) <- stats.get(c)
        fld <- schema.fields.find(_.name == c)
        if fld.dataType == StringType
      } yield {
        val mnU = UTF8String.fromString(mn)
        val mxU = UTF8String.fromString(mx)
        val pLen = prefix.numBytes()
        // No match only if every value < prefix (max < prefix) or every
        // value's prefix > prefix (min's first |p| bytes > prefix).
        val minPrefixGt = {
          val take = java.util.Arrays.copyOf(mnU.getBytes,
            math.min(mnU.numBytes(), pLen))
          byteCmp(take, prefix.getBytes) > 0
        }
        !(mxU.compareTo(prefix) < 0 || minPrefixGt)
      }).getOrElse(true)
  }

  private def byteCmp(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** Comparators cmp(minBound, v) and cmp(maxBound, v) for a statted
    * column, typed by the TABLE schema (the stats were encoded from the
    * same files the schema describes). None → column unstatted/untypable.
    */
  private def bounds(stats: FileStats, schema: StructType,
                     col: String): Option[(Any => Int, Any => Int)] =
    for {
      (mn, mx) <- stats.get(col)
      fld <- schema.fields.find(_.name == col)
      mk <- cmpFor(fld.dataType)
    } yield (mk(mn), mk(mx))

  /** encodedBound → (internalValue → cmp(bound, value)). */
  private def cmpFor(dt: DataType): Option[String => Any => Int] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some { enc =>
      val b = enc.toLong
      v => java.lang.Long.compare(b, v.asInstanceOf[Number].longValue())
    }
    case BooleanType => Some { enc =>
      val b = enc == "1"
      v => java.lang.Boolean.compare(b, v.asInstanceOf[Boolean])
    }
    case FloatType | DoubleType => Some { enc =>
      val b = enc.toDouble
      v => java.lang.Double.compare(b,
        v.asInstanceOf[Number].doubleValue())
    }
    case StringType => Some { enc =>
      val b = UTF8String.fromString(enc)
      v => b.compareTo(v.asInstanceOf[UTF8String])
    }
    case TimestampType | TimestampNTZType => Some { enc =>
      val b = enc.toLong // epoch micros, both in file stats and internally
      v => java.lang.Long.compare(b, v.asInstanceOf[Number].longValue())
    }
    case DateType => Some { enc =>
      val b = enc.toLong // epoch days
      v => java.lang.Long.compare(b, v.asInstanceOf[Number].longValue())
    }
    case _ => None
  }

  // ---- metadata MIN/MAX and file pruning -----------------------------------

  /** True unless the writer may have truncated these bounds (see
    * [[InexactMark]]): only exact bounds answer metadata MIN/MAX.
    */
  def exact(bounds: (String, String)): Boolean = !bounds._2.endsWith(InexactMark)

  /** Metadata MIN/MAX support for a column type: (decode an encoded bound
    * into Spark's INTERNAL value, compare two encoded bounds). Floats and
    * doubles are deliberately unsupported — a file can contain NaN without
    * NaN footer bounds, and SQL MAX must surface the NaN; every other
    * supported type's footer bounds are exact over the file's non-null
    * rows, which is precisely SQL MIN/MAX's domain.
    */
  def minMaxSupport(dt: DataType)
      : Option[(String => Any, (String, String) => Int)] = {
    def longCmp: (String, String) => Int =
      (a, b) => java.lang.Long.compare(a.toLong, b.toLong)
    dt match {
      case ByteType => Some((enc => enc.toLong.toByte, longCmp))
      case ShortType => Some((enc => enc.toLong.toShort, longCmp))
      case IntegerType | DateType => Some((enc => enc.toLong.toInt, longCmp))
      case LongType | TimestampType | TimestampNTZType =>
        Some((enc => enc.toLong, longCmp))
      case BooleanType =>
        Some((enc => enc == "1", (a, b) => a.compareTo(b)))
      case StringType =>
        Some(((enc: String) => UTF8String.fromString(enc),
          (a, b) => utf8Cmp(a, b)))
      case _ => None
    }
  }

  /** The files of `m` a scan with `preds` must read (zone-map pruning;
    * files without stats always survive).
    */
  def prune(m: Manifest, schema: StructType, preds: Seq[StatPred]): Seq[DataFile] =
    m.files.filter(f => mayMatchAll(f.stats, schema, preds))

  private def mayMatchAll(stats: FileStats, schema: StructType,
                          preds: Seq[StatPred]): Boolean =
    stats.isEmpty || preds.forall(p => mayMatch(stats, schema, p))
}
