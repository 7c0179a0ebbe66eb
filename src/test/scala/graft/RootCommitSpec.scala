package graft

import java.nio.file.Files

import graft.io.{IcebergishTable, RootCommit}

/** Cross-table atomic commits: the root manifest makes torn cross-table
  * states (new edges, old vertices) unobservable to consistent readers.
  */
class RootCommitSpec extends SparkSpec {

  test("pipeline publishes a root; consistent reads pin the committed pair") {
    import spark.implicits._
    val dir = specDir("graft-root").toString
    Pipeline.build(spark, PipelineConfig(seed = 42L, nPages = 150L,
      partitions = 4, outputBuckets = 8, workDir = dir, runId = "root1"))
    val root0 = RootCommit.currentRoot(dir)
    assert(root0 >= 0)
    val members = RootCommit.tablesOf(dir)
    assert(members.keySet == Set("pages", "edges", "vertices"))

    val edges0 = RootCommit.readConsistent(spark, dir, "edges")
      .select("subj").as[String].collect().toSet
    assert(edges0 == IcebergishTable.read(spark, s"$dir/edges")
      .select("subj").as[String].collect().toSet)
    assert(edges0.nonEmpty)
    val rows0 = RootCommit.readConsistent(spark, dir, "edges").count()

    // A table advancing WITHOUT a new root (the torn window: edges landed,
    // vertices not yet) stays invisible to consistent readers.
    graft.streaming.StreamingKg.appendBatch(
      Seq(Triple("ZX", "p", "ZY", "zu", 1.0)).toDF, s"$dir/edges", "q", 99L, 8)
    assert(IcebergishTable.read(spark, s"$dir/edges").count() == rows0 + 1)
    val stillOld = RootCommit.readConsistent(spark, dir, "edges")
      .select("subj").as[String].collect().toSet
    assert(stillOld == edges0, "torn state leaked through the root commit")

    // Publishing the next root makes the append visible atomically; the
    // PREVIOUS root keeps time-traveling to the old pair.
    RootCommit.commit(dir, Map(
      "pages" -> IcebergishTable.currentSnapshot(s"$dir/pages"),
      "edges" -> IcebergishTable.currentSnapshot(s"$dir/edges"),
      "vertices" -> IcebergishTable.currentSnapshot(s"$dir/vertices")))
    assert(RootCommit.readConsistent(spark, dir, "edges").count() == rows0 + 1)
    assert(RootCommit.readConsistent(spark, dir, "edges", root = root0)
      .select("subj").as[String].collect().toSet == edges0)

    // Typed failures: unknown member, bogus snapshot, no root.
    intercept[TableNotFound] {
      RootCommit.readConsistent(spark, dir, "nope")
    }
    intercept[SnapshotNotFound] {
      RootCommit.commit(dir, Map("edges" -> 999))
    }
    intercept[TableNotFound] {
      RootCommit.tablesOf(specDir("graft-noroot").toString)
    }
  }

  test("rebuild on the same workDir advances the root; overwritten old roots expire loudly") {
    val dir = specDir("graft-root2").toString
    Pipeline.build(spark, PipelineConfig(seed = 7L, nPages = 100L,
      partitions = 4, outputBuckets = 8, workDir = dir, runId = "a"))
    val r0 = RootCommit.currentRoot(dir)
    val e0 = RootCommit.readConsistent(spark, dir, "edges").count()
    // Different runId over the same tables: stages recompute (fresh acks),
    // snapshots advance via dynamic partition OVERWRITE (old bucket files
    // are physically replaced), and a new root lands.
    Pipeline.build(spark, PipelineConfig(seed = 7L, nPages = 100L,
      partitions = 4, outputBuckets = 8, workDir = dir, runId = "b"))
    assert(RootCommit.currentRoot(dir) > r0)
    assert(RootCommit.readConsistent(spark, dir, "edges").count() == e0)
    // Round 5: partition overwrites TOMBSTONE replaced files instead of
    // deleting them, so the old root keeps time-traveling (the rebuild
    // behaves like any other snapshot history)…
    assert(RootCommit.readConsistent(spark, dir, "edges", root = r0)
      .count() == e0)
    // …until snapshot EXPIRY reclaims the tombstoned files and drops the
    // old manifests — then the old root expires loudly, Iceberg-style.
    IcebergishTable.expireSnapshots(s"$dir/edges", keepLast = 1)
    intercept[SnapshotNotFound] {
      RootCommit.readConsistent(spark, dir, "edges", root = r0).count()
    }
  }
}
