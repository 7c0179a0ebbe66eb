package graft.sources.v2

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 catalog over a directory of [[graft.io.IcebergishTable]]s.
  *
  * The reference pushes projections into its *own* source protocol
  * (/root/reference/src/graph_loader.rs:978-1026) and plans scans against
  * an explicit shard map (/root/reference/src/sharding.rs:38-46). This
  * catalog is the Spark-native equivalent: it exposes each table's
  * hash-bucket layout to Catalyst as a `bucket(n, key)` transform, so a
  * join between co-bucketed tables (edges⋈vertices on the bucket key)
  * plans STORAGE-PARTITIONED — zero Exchange — and column pruning /
  * filter pushdown reach the files through the V2 pushdown interfaces
  * rather than incidentally through the parquet reader.
  *
  * It is also a [[FunctionCatalog]]: Catalyst can only resolve the bucket
  * transform into a comparable partition expression when the owning catalog
  * serves the transform's function (V2ExpressionUtils resolves transforms
  * via the relation's function catalog).
  *
  * Usage:
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/path/to/tables")
  *   spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
  *   spark.table("graft.edges").join(spark.table("graft.vertices"), ...)
  * }}}
  */
class GraftCatalog extends TableCatalog with FunctionCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null,
      s"spark.sql.catalog.$name.warehouse must point at a table directory")
  }

  override def name(): String = catalogName

  private def tablePath(ident: Identifier): String =
    (warehouse +: (ident.namespace() :+ ident.name())).mkString("/")

  override def loadTable(ident: Identifier): Table = {
    val path = tablePath(ident)
    if (!graft.io.IcebergishTable.exists(path))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    new GraftTable(ident.toString, path)
  }

  /** SQL time travel: `SELECT … FROM graft.t VERSION AS OF n` — the
    * returned table pins snapshot n's FILE LIST and SCHEMA (era schema,
    * like Iceberg), unlike the scan-level `.option("snapshot", n)` which
    * pins files under the current schema.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = tablePath(ident)
    if (!graft.io.IcebergishTable.exists(path))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val snap =
      try version.trim.toInt
      catch {
        case _: NumberFormatException => throw new graft.InvalidConfig(
          s"graft table versions are snapshot ids (integers), got '$version'")
      }
    new GraftTable(s"$ident@$snap", path, pinned = Some(snap))
  }

  override def tableExists(ident: Identifier): Boolean =
    graft.io.IcebergishTable.exists(tablePath(ident))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val root = java.nio.file.Paths.get(
      (warehouse +: namespace.toSeq).mkString("/"))
    if (!java.nio.file.Files.isDirectory(root)) Array.empty
    else {
      val out = new scala.collection.mutable.ArrayBuffer[Identifier]
      val s = java.nio.file.Files.list(root)
      try s.forEach { p =>
        if (graft.io.IcebergishTable.exists(p.toString))
          out += Identifier.of(namespace, p.getFileName.toString)
      } finally s.close()
      out.toArray
    }
  }

  /** CREATE TABLE (incl. the CTAS leg of `df.writeTo(...).create()`):
    * requires exactly one `bucket(n, key)` transform — the only layout the
    * format has. Commits an empty snapshot 0; the write that follows
    * appends into it through [[GraftWriteBuilder]].
    */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val path = tablePath(ident)
    if (graft.io.IcebergishTable.exists(path))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    val spec = partitions match {
      case Array(t) if t.name == "bucket" =>
        val n = t.arguments.collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            l.value.asInstanceOf[Number].intValue
        }
        val key = t.references.headOption.map(_.fieldNames.mkString("."))
        (n, key) match {
          case (Some(n), Some(k)) => (k, n)
          case _ => throw new graft.InvalidConfig(
            s"unparseable bucket transform: $t")
        }
      case other => throw new graft.InvalidConfig(
        "graft tables require exactly one bucket(n, key) partition " +
          s"transform, got [${other.mkString(", ")}] — e.g. " +
          "df.writeTo(\"graft.t\").partitionedBy(bucket(8, $\"subj\")).create()")
    }
    graft.io.IcebergishTable.createEmpty(path, schema, spec._1, spec._2)
    new GraftTable(ident.toString, path)
  }

  /** Schema evolution: `ALTER TABLE graft.t ADD COLUMN c TYPE` routes here
    * as an AddColumn change → a metadata-only snapshot with the widened
    * schema ([[graft.io.IcebergishTable.addColumn]]); `RENAME COLUMN` /
    * `DROP COLUMN` route to the field-id-mapped rename/drop (data files
    * keep their written names; reads resolve by parquet field id). Old
    * snapshots keep the schema of their era; existing files read a new
    * column as null. Retype stays unsupported.
    *
    * The FULL change list is validated before ANY change commits: a
    * multi-change ALTER whose later change is unsupported must reject
    * wholesale, not leave earlier columns committed with no rollback.
    * AddColumn attributes the format cannot honor (NOT NULL, explicit
    * position, nested fields) reject explicitly instead of silently
    * altering their semantics; a COMMENT is accepted and dropped (it
    * changes no read/write semantics).
    */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val path = tablePath(ident)
    if (!graft.io.IcebergishTable.exists(path))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    // Phase 1: validate everything, commit nothing — including name
    // existence/conflicts, simulated through the list in order so a later
    // change is checked against the schema the earlier ones will produce.
    val (schemaJson, spec) = graft.io.IcebergishTable.manifestMeta(path)
    var names = org.apache.spark.sql.types.DataType.fromJson(schemaJson)
      .asInstanceOf[StructType].fieldNames.toSeq
      .filterNot(_ == graft.io.IcebergishTable.PartCol)
    def requireExists(n: String): Unit =
      if (!names.contains(n))
        throw new graft.InvalidConfig(s"no such column '$n' in $path")
    def requireFresh(n: String): Unit =
      if (names.exists(_.equalsIgnoreCase(n)))
        throw new graft.InvalidConfig(s"column '$n' already exists in $path")
    changes.foreach {
      case add: TableChange.AddColumn =>
        if (add.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            s"nested column additions are not supported: ${add.fieldNames().mkString(".")}")
        if (!add.isNullable)
          throw new UnsupportedOperationException(
            s"NOT NULL column '${add.fieldNames()(0)}' is not supported — " +
              "existing files would read it as null, violating the constraint")
        if (add.position() != null)
          throw new UnsupportedOperationException(
            s"explicit column position is not supported for '${add.fieldNames()(0)}' — " +
              "new columns append before the hidden part column")
        requireFresh(add.fieldNames()(0))
        names :+= add.fieldNames()(0)
      case rename: TableChange.RenameColumn =>
        if (rename.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            s"nested column renames are not supported: ${rename.fieldNames().mkString(".")}")
        requireExists(rename.fieldNames()(0))
        requireFresh(rename.newName())
        names = names.map(n =>
          if (n == rename.fieldNames()(0)) rename.newName() else n)
      case del: TableChange.DeleteColumn =>
        if (del.fieldNames().length != 1)
          throw new UnsupportedOperationException(
            s"nested column drops are not supported: ${del.fieldNames().mkString(".")}")
        requireExists(del.fieldNames()(0))
        if (spec.exists(_._1 == del.fieldNames()(0)))
          throw new graft.InvalidConfig(
            s"cannot drop bucket key '${del.fieldNames()(0)}' of $path")
        names = names.filterNot(_ == del.fieldNames()(0))
      case other =>
        throw new UnsupportedOperationException(
          s"unsupported table change (ADD/RENAME/DROP COLUMN only): $other")
    }
    // Phase 2: apply. (Each change is one atomic metadata commit; the list
    // as a whole is not transactional across a concurrent writer, same as
    // Iceberg's one-commit-per-update SQL path.)
    changes.foreach {
      case add: TableChange.AddColumn =>
        graft.io.IcebergishTable.addColumn(path, add.fieldNames()(0),
          add.dataType())
      case rename: TableChange.RenameColumn =>
        graft.io.IcebergishTable.renameColumn(path, rename.fieldNames()(0),
          rename.newName())
      case del: TableChange.DeleteColumn =>
        graft.io.IcebergishTable.dropColumn(path, del.fieldNames()(0))
      case _ => // unreachable: phase 1 rejected everything else
    }
    new GraftTable(ident.toString, path)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val path = tablePath(ident)
    if (!graft.io.IcebergishTable.exists(path)) false
    else { graft.io.IcebergishTable.drop(path); true }
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "rename is not supported (paths are identity)")

  // ---- FunctionCatalog ----------------------------------------------------

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    GraftFunctions.listFunctions(namespace)

  override def loadFunction(ident: Identifier): UnboundFunction =
    GraftFunctions.loadFunction(ident)
}

/** The functions a graft relation's partitioning needs — the bucket
  * transform's. Catalyst resolves a scan's `bucket(n, key)` partitioning
  * through the relation's function catalog, so the catalog serves these,
  * and a catalog-free relation ([[GraftTable.frame]]) carries this object
  * to keep its storage-partitioned joins.
  */
object GraftFunctions extends FunctionCatalog {
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = ()

  override def name(): String = "graft"

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(namespace, "bucket"))

  override def loadFunction(ident: Identifier): UnboundFunction =
    ident.name() match {
      case "bucket" => GraftBucketFunction
      case _ =>
        throw new org.apache.spark.sql.catalyst.analysis
          .NoSuchFunctionException(ident)
    }
}

/** The bucket transform's function: pmod(murmur3(key), n) — EXACTLY
  * [[graft.io.IcebergishTable.partExpr]], so the value Catalyst would
  * compute for a row agrees with the directory the writer placed it in.
  * Murmur3 (seed 42) is also what Spark's HashPartitioning computes, which
  * is WHY the writer's repartition-on-key aligns shuffle partitions 1:1
  * with buckets (see partExpr's doc).
  */
object GraftBucketFunction extends UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, key): pmod(murmur3(key), n) — IcebergishTable's layout"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2 &&
      inputType.fields(0).dataType == IntegerType,
      s"bucket expects (int, key), got $inputType")
    GraftBucketBound(inputType.fields(1).dataType)
  }
}

/** [[GraftBucketFunction]] bound to a key type: a bucket key may be any
  * column Spark's `hash()` takes.
  */
final case class GraftBucketBound(keyType: DataType) extends ScalarFunction[Integer] {
  override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
  override def resultType(): DataType = IntegerType
  override def name(): String = "bucket"
  // Canonical identity drives storage-partitioned-join compatibility: two
  // scans whose transforms share this name + bucket count are co-partitioned.
  override def canonicalName(): String = s"graft.bucket.murmur3(${keyType.simpleString})"
  override def isResultNullable: Boolean = false

  override def produceResult(input: InternalRow): Integer = {
    val n = input.getInt(0)
    // Spark's hash() over the key column: Murmur3 (32-bit), seed 42 —
    // identical to HashPartitioning's partition-id hash.
    val h = Murmur3HashFunction.hash(input.get(1, keyType), keyType, 42L).toInt
    ((h % n) + n) % n
  }
}
