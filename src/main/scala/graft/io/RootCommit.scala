package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-table atomic commits: a ROOT manifest pins one snapshot id per
  * member table, swapped with one atomic rename — Iceberg's multi-table
  * transaction shape scaled down to the sandbox's manifest format.
  *
  * Why it exists: the KG build commits edges, then vertices, then acks.
  * Each table is individually consistent (snapshot-pinned reads), but a
  * reader arriving BETWEEN the two stage commits would see new edges with
  * old vertices. The reference has the same torn-read window between its
  * vertex and edge passes (/root/reference/src/graph_loader.rs:377-627 run
  * sequentially); we close it: [[Pipeline.build]] publishes a root commit
  * only after BOTH tables landed, and [[readConsistent]] resolves every
  * member through the SAME root — torn states are unobservable.
  *
  * Layout under the work dir:
  *   root-<n>.json   [[RootManifest]], e.g. {"root":n,"tables":{"edges":3}}
  *   ROOT_VERSION    n   (atomic rename swap)
  */
object RootCommit {

  private def dir(root: String): Path = Paths.get(root)

  def currentRoot(root: String): Int = {
    val v = dir(root).resolve("ROOT_VERSION")
    if (Files.exists(v))
      new String(Files.readAllBytes(v), StandardCharsets.UTF_8).trim.toInt
    else -1
  }

  /** Publish a new root pinning `tables` (name → snapshot id, each name a
    * child directory of `root`). Atomic: readers see the old root or the
    * new one, never a mixture.
    */
  def commit(root: String, tables: Map[String, Int]): Int = {
    require(tables.nonEmpty, "a root commit needs at least one table")
    tables.foreach { case (name, snap) =>
      if (Manifest.load(s"$root/$name", snap).isEmpty)
        throw new graft.SnapshotNotFound(s"$root/$name", snap)
    }
    Files.createDirectories(dir(root))
    // Same cross-JVM protocol as the table commit (IcebergishTable.commit):
    // the root NAME is claimed with a kernel-atomic hard link over fully-
    // written content, so two racing publishers (e.g. two builds sharing a
    // workDir) each claim their own COMPLETE root-<n>.json — no clobbering
    // and no partially-visible root manifest.
    var next = currentRoot(root) + 1
    var placed = false
    while (!placed) {
      // Hard-link publication (IcebergishTable.publishAtomic): a visible
      // root-<n>.json always carries COMPLETE content — a racing publisher
      // can never read a half-written root manifest.
      if (IcebergishTable.publishAtomic(dir(root), s"root-$next.json",
          RootManifest(next, tables).encode.getBytes(StandardCharsets.UTF_8)))
        placed = true
      else next += 1
    }
    // Advance ROOT_VERSION through the shared pointer protocol: unique
    // temp names + re-derive-from-published-roots loop, so racing swaps
    // converge to the highest published root (see
    // IcebergishTable.advancePointer for the interleaving this fixes).
    IcebergishTable.advancePointer(dir(root), "ROOT_VERSION", next,
      n => Files.exists(dir(root).resolve(s"root-$n.json")))
    next
  }

  /** Member-table snapshot ids of a root (current root when `root` < 0). */
  def tablesOf(rootDir: String, root: Int = -1): Map[String, Int] = {
    val r = if (root >= 0) root else currentRoot(rootDir)
    if (r < 0) throw new graft.TableNotFound(s"$rootDir (no ROOT_VERSION)")
    val bytes =
      try Files.readAllBytes(dir(rootDir).resolve(s"root-$r.json"))
      catch {
        case _: java.io.IOException =>
          throw new graft.ManifestCorrupted(rootDir, r, "missing root manifest")
      }
    try RootManifest.decode(new String(bytes, StandardCharsets.UTF_8)).tables
    catch {
      case scala.util.control.NonFatal(e) => throw new graft.ManifestCorrupted(
        rootDir, r, s"undecodable root manifest (${e.getMessage})")
    }
  }

  /** Snapshot-consistent read of one member table AS OF the (current or
    * given) root: every table read through the same root id observes the
    * same atomic commit — no torn cross-table state.
    */
  def readConsistent(spark: SparkSession, rootDir: String, table: String,
                     root: Int = -1): DataFrame = {
    val snaps = tablesOf(rootDir, root)
    val snap = snaps.getOrElse(table,
      throw new graft.TableNotFound(s"$rootDir/$table (not in root commit)"))
    IcebergishTable.readSnapshot(spark, s"$rootDir/$table", snap)
  }
}
