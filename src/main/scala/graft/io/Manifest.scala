package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

/** One data file of a snapshot: its table-relative path plus the
  * per-file metadata the manifest keeps index-aligned with `"files"`.
  * `size` is None only for manifests written before sizes were recorded.
  */
final case class DataFile(path: String, size: Option[Long], seq: Long,
                          rows: Long, stats: Map[String, (String, String)])

/** One delete file (position or equality, told apart by path — see
  * [[IcebergishTable.isEqDeleteFile]]) and the snapshot that added it.
  */
final case class DeleteFile(path: String, seq: Long)

/** The snapshot manifest `snap-<n>.json`: the single description of the
  * format, and the ONLY code that produces or reads its bytes.
  *
  * One compact JSON object, fields in this order (optional ones are
  * omitted when empty; a reader applies the legacy default when absent):
  *
  *  - `snapshot` — n; required. `rows` — always 0 (reserved); required.
  *  - `bucket_key`, `buckets` — the hash-bucket partition spec; optional
  *    (absent = unpartitioned). `bucket_fn` — the placement hash that laid
  *    the files out ([[IcebergishTable.BucketFn]]); optional, and a
  *    bucketed manifest without it refuses appends.
  *  - `epochs` — `{queryId: epoch}` streaming high-waters; optional.
  *  - `maxfid` — highest field id ever assigned; omitted when 0.
  *  - `ghosts` — column names physically present in live files under a
  *    different (or dropped) field id; optional.
  *  - `deletes` — delete-file paths, sorted; `delseqs` — index-aligned
  *    snapshot that added each; both omitted when there are none. Absent
  *    or misaligned `delseqs` default to 0.
  *  - `partitions` — bucket ids the snapshot spans; required.
  *  - `sizes`, `seqs`, `filerows`, `files`, `colstats` — index-aligned
  *    per-file arrays ([[DataFile]]), `files` sorted and required. Absent
  *    or misaligned arrays take the legacy defaults: no sizes (readers
  *    stat the files), seq 0, filerows -1 (metadata aggregation refuses),
  *    no colstats (the file is never pruned). A `colstats` entry is
  *    `{column: [min, max]}` with both bounds as JSON strings (numerics in
  *    decimal, timestamps as epoch micros, dates as epoch days, booleans
  *    as 0/1), columns sorted.
  *  - `schema` — the Spark StructType JSON, last; required.
  *
  * Strings are JSON-escaped, so any column name, query id or path
  * round-trips. A manifest that is not JSON, lacks a required field, or
  * has a field of the wrong type does not decode.
  */
final case class Manifest(snapshot: Int,
                          rows: Long,
                          bucket: Option[(String, Int)],
                          bucketFn: Option[String],
                          epochs: Map[String, Long],
                          maxFid: Long,
                          ghosts: Seq[String],
                          deletes: Seq[DeleteFile],
                          partitions: Seq[Int],
                          files: Seq[DataFile],
                          schema: StructType) {

  def paths: Seq[String] = files.map(_.path)

  def encode: String = {
    import Manifest.{arr, strs}
    def perFile(f: DataFile => JValue) = arr(files.map(f))
    compact(render(JObject(List(
      "snapshot" -> JInt(snapshot),
      "rows" -> JInt(rows)) ++
      bucket.toList.flatMap { case (k, n) =>
        List("bucket_key" -> JString(k), "buckets" -> JInt(n)) } ++
      bucketFn.map(fn => "bucket_fn" -> JString(fn)) ++
      Option.when(epochs.nonEmpty)("epochs" -> JObject(
        epochs.toList.sorted.map { case (q, e) => q -> JInt(e) })) ++
      Option.when(maxFid > 0)("maxfid" -> JInt(maxFid)) ++
      Option.when(ghosts.nonEmpty)("ghosts" -> strs(ghosts)) ++
      Option.when(deletes.nonEmpty)("deletes" -> strs(deletes.map(_.path))) ++
      Option.when(deletes.nonEmpty)("delseqs" -> arr(deletes.map(d => JInt(d.seq)))) ++
      List("partitions" -> arr(partitions.map(JInt(_)))) ++
      Option.when(files.forall(_.size.isDefined))(
        "sizes" -> perFile(f => JInt(f.size.get))) ++
      List(
        "seqs" -> perFile(f => JInt(f.seq)),
        "filerows" -> perFile(f => JInt(f.rows)),
        "files" -> strs(paths),
        "colstats" -> perFile(f => JObject(f.stats.toList.sortBy(_._1).map {
          case (c, (mn, mx)) => c -> strs(Seq(mn, mx)) })),
        "schema" -> parse(schema.json)))))
  }
}

object Manifest {

  private def arr(vs: Seq[JValue]): JValue = JArray(vs.toList)
  private def strs(vs: Seq[String]): JValue = arr(vs.map(JString(_)))

  private def bad(what: String) = throw new IllegalArgumentException(what)
  private[io] def str(v: JValue): String = v match {
    case JString(s) => s
    case o => bad(s"expected a string, got $o")
  }
  private[io] def long(v: JValue): Long = v match {
    case JInt(i) if i.isValidLong => i.toLong
    case o => bad(s"expected an integer, got $o")
  }
  private[io] def list(v: JValue): List[JValue] = v match {
    case JArray(vs) => vs
    case o => bad(s"expected an array, got $o")
  }
  private[io] def obj(v: JValue): List[(String, JValue)] = v match {
    case JObject(kvs) => kvs
    case o => bad(s"expected an object, got $o")
  }

  /** Parse manifest text; throws on anything that does not decode. */
  def decode(json: String): Manifest = {
    val fields = obj(parse(json)).toMap
    def opt[T](k: String)(f: JValue => T): Option[T] = fields.get(k).map(f)
    def need(k: String): JValue = fields.getOrElse(k, bad(s"missing \"$k\" field"))
    val paths = list(need("files")).map(str)
    /** An index-aligned per-file array, or None when absent/misaligned. */
    def aligned[T](k: String)(f: JValue => T): Option[Vector[T]] =
      opt(k)(list(_).iterator.map(f).toVector).filter(_.length == paths.length)
    val sizes = aligned("sizes")(long)
    val seqs = aligned("seqs")(long)
    val fileRows = aligned("filerows")(long)
    val stats = aligned("colstats")(e => obj(e).map { case (c, b) =>
      list(b).map(str) match {
        case List(mn, mx) => c -> (mn, mx)
        case _ => bad(s"colstats bounds of $c are not [min, max]")
      }
    }.toMap)
    val deletes = opt("deletes")(list(_).map(str)).getOrElse(Nil)
    val delseqs = opt("delseqs")(list(_).map(long).toVector)
      .filter(_.length == deletes.length)
    val schema = DataType.fromJson(compact(render(need("schema")))) match {
      case s: StructType => s
      case o => bad(s"schema is not a struct: ${o.simpleString}")
    }
    Manifest(
      snapshot = long(need("snapshot")).toInt,
      rows = long(need("rows")),
      bucket = for {
        k <- opt("bucket_key")(str)
        n <- opt("buckets")(long)
      } yield (k, n.toInt),
      bucketFn = opt("bucket_fn")(str),
      epochs = opt("epochs")(obj(_).map { case (q, e) => q -> long(e) }.toMap)
        .getOrElse(Map.empty),
      maxFid = opt("maxfid")(long).getOrElse(0L),
      ghosts = opt("ghosts")(list(_).map(str)).getOrElse(Nil),
      deletes = deletes.zipWithIndex.map { case (p, i) =>
        DeleteFile(p, delseqs.fold(0L)(_(i))) },
      partitions = list(need("partitions")).map(long(_).toInt),
      files = paths.zipWithIndex.map { case (p, i) =>
        DataFile(p, sizes.map(_(i)), seqs.fold(0L)(_(i)),
          fileRows.fold(-1L)(_(i)), stats.fold(Map.empty[String, (String, String)])(_(i)))
      },
      schema = schema)
  }

  def path(table: String, snapshot: Int): Path =
    Paths.get(table).resolve(s"snap-$snapshot.json")

  /** Snapshot `snapshot`'s manifest: None when no such file exists, the
    * typed [[graft.ManifestCorrupted]] when it exists but does not decode.
    */
  def load(table: String, snapshot: Int): Option[Manifest] = {
    val bytes =
      try Files.readAllBytes(path(table, snapshot))
      catch { case _: java.io.IOException => return None }
    try Some(decode(new String(bytes, StandardCharsets.UTF_8)))
    catch {
      case NonFatal(e) => throw new graft.ManifestCorrupted(table, snapshot,
        s"undecodable manifest (${e.getMessage})")
    }
  }

  /** [[load]] where the manifest must exist: a missing CURRENT manifest is
    * corruption ([[graft.ManifestCorrupted]]); a missing older one was
    * expired ([[graft.SnapshotNotFound]]).
    */
  def read(table: String, snapshot: Int): Manifest =
    load(table, snapshot).getOrElse {
      if (snapshot == IcebergishTable.currentSnapshot(table))
        throw new graft.ManifestCorrupted(table, snapshot,
          "VERSION points at a missing manifest")
      else throw new graft.SnapshotNotFound(table, snapshot)
    }
}

/** The root manifest `root-<n>.json` ([[RootCommit]]): the member-table
  * snapshot ids one cross-table commit pins, as
  * `{"root":n,"tables":{name: snapshot, ...}}` with names sorted.
  */
final case class RootManifest(root: Int, tables: Map[String, Int]) {
  def encode: String = compact(render(JObject(
    "root" -> JInt(root),
    "tables" -> JObject(tables.toList.sortBy(_._1).map { case (t, s) =>
      t -> JInt(s) }))))
}

object RootManifest {
  def decode(json: String): RootManifest = {
    import Manifest.{long, obj}
    val fields = obj(parse(json)).toMap
    RootManifest(long(fields("root")).toInt,
      obj(fields("tables")).map { case (t, s) => t -> long(s).toInt }.toMap)
  }
}
