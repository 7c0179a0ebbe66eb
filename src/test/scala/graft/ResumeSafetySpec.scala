package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.io.IcebergishTable
import graft.materialize.{Checkpoint, GraphOut}

/** Resume-safety edges found in review: stale buckets surviving dynamic
  * partition overwrite, stale synth config in a reused workDir, torn
  * checkpoint log lines, and supplementary-plane entity decoding.
  */
class ResumeSafetySpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    specDir(prefix).toString

  /** Bucket of a key under the table's partitioning. */
  private def bucketOf(key: String, numParts: Int): Int = {
    import spark.implicits._
    Seq(key).toDF("k")
      .select(IcebergishTable.partExpr("k", numParts)).head().getInt(0)
  }

  test("recompute on new input drops buckets that received zero rows (bucketed-dedup path)") {
    import spark.implicits._
    val numParts = 4
    val all = (1 to 40).map(i => Triple(s"E$i", "p", s"F$i", s"u$i", 1.0))
    val victimBucket = bucketOf(all.head.subj, numParts)
    val df1 = all.toDF
    val df2 = all.filter(t => bucketOf(t.subj, numParts) != victimBucket).toDF
    assert(df2.count() < df1.count()) // victim bucket is non-empty in df1

    val dir = tmpDir("graft-stalebucket")
    GraphOut.writeBucketedDedup(df1, s"$dir/edges", "subj", numParts,
      Seq("subj", "pred", "obj", "url"), s"$dir/ckpt", "r1", "edges",
      inputTag = "snap-0")
    // New input snapshot in which the victim bucket has NO rows.
    GraphOut.writeBucketedDedup(df2, s"$dir/edges", "subj", numParts,
      Seq("subj", "pred", "obj", "url"), s"$dir/ckpt", "r1", "edges",
      inputTag = "snap-1")

    val got = IcebergishTable.read(spark, s"$dir/edges")
      .select("subj").as[String].collect().toSet
    val want = df2.select("subj").as[String].collect().toSet
    assert(got == want, "stale rows from the old snapshot survived the recompute")
    // The empty bucket is acked with zero-row lineage, not stale counts.
    val ack = Checkpoint.readRows(s"$dir/ckpt")
      .filter(r => r.input_tag == "snap-1" && r.part == victimBucket)
    assert(ack.nonEmpty && ack.forall(_.rows_out == 0L))
  }

  test("resume after three of 16 buckets are deleted: one snapshot, three acks; new input drops zero-row buckets") {
    import spark.implicits._
    val numParts = 16
    val all = (1 to 160).map(i => Triple(s"E$i", "p", s"F$i", s"u$i", 1.0))
    val victimBucket = bucketOf(all.head.subj, numParts)
    val df2 = all.filter(t => bucketOf(t.subj, numParts) != victimBucket).toDF
    val dir = tmpDir("graft-stalebucket2")
    val (edges, ckpt) = (s"$dir/edges", s"$dir/ckpt")
    def write(df: org.apache.spark.sql.DataFrame, tag: String) =
      GraphOut.writeBucketedDedup(df, edges, "subj", numParts,
        Seq("subj", "pred", "obj", "url"), ckpt, "r1", "edges", inputTag = tag)
    write(all.toDF, "snap-0")
    val full = IcebergishTable.read(spark, edges).select("subj").as[String].collect().toSet
    assert(full == all.map(_.subj).toSet)

    // Delete three acked buckets behind the checkpoint's back: the re-run
    // rewrites exactly those, in ONE commit, and acks exactly those.
    val deleted = Seq(victimBucket, (victimBucket + 5) % numParts, (victimBucket + 11) % numParts)
    deletePartitionDirs(edges, deleted)
    val snapBefore = IcebergishTable.currentSnapshot(edges)
    val acksBefore = Checkpoint.readRows(ckpt).size
    val resumed = write(all.toDF, "snap-0")
    assert(resumed.partsWritten.toSet == deleted.toSet, s"$resumed")
    assert(IcebergishTable.currentSnapshot(edges) == snapBefore + 1)
    assert(Checkpoint.readRows(ckpt).drop(acksBefore).map(_.part).sorted == deleted.sorted)
    assert(IcebergishTable.read(spark, edges).select("subj").as[String].collect().toSet == full)

    // New input snapshot in which the victim bucket has NO rows.
    write(df2, "snap-1")
    val got = IcebergishTable.read(spark, edges)
      .select("subj").as[String].collect().toSet
    assert(got == df2.select("subj").as[String].collect().toSet)
  }

  test("resume verification skips a deleted MOR position-delete file and keeps the matching acked buckets") {
    import spark.implicits._
    val numParts = 4
    val df = (1 to 40).map(i => Triple(s"E$i", "p", s"F$i", s"u$i", 1.0)).toDF
    val dir = tmpDir("graft-mor-verify")
    val (edges, ckpt) = (s"$dir/edges", s"$dir/ckpt")
    def write() = GraphOut.writeBucketedDedup(df, edges, "subj", numParts,
      Seq("subj", "pred", "obj", "url"), ckpt, "r1", "edges", inputTag = "snap-0")
    write()
    // A MOR delete masks one row of E1's bucket with a position-delete file.
    assert(IcebergishTable.deleteWhere(spark, edges, col("subj") === "E1",
      morMaxRows = 10L) == 1L)
    val deleteFiles = Files.list(Paths.get(edges, "deletes")).iterator().asScala.toSeq
    assert(deleteFiles.size == 1)
    // Remove the delete file from disk, and wipe another bucket's data.
    deleteFiles.foreach(Files.delete)
    val tampered = (1 to 40).map(i => bucketOf(s"E$i", numParts))
      .find(_ != bucketOf("E1", numParts)).get
    deletePartitionDirs(edges, Seq(tampered))
    // Verification reads what is on disk without throwing: E1's bucket
    // holds its acked rows again and is skipped; only the wiped bucket
    // recomputes.
    val resumed = write()
    assert(resumed.partsWritten == Seq(tampered), s"$resumed")
    assert(resumed.partsSkipped.toSet == (0 until numParts).toSet - tampered)
  }

  test("checkpoint log tolerates a torn final line (crash mid-append)") {
    val dir = tmpDir("graft-torn")
    val ckpt = s"$dir/ckpt"
    Checkpoint.append(spark, ckpt, Seq(
      CheckpointRow("r1", "edges", 0, "snap-0", "ab", 5, 5, 1, "done"),
      CheckpointRow("r1", "edges", 1, "snap-0", "cd", 7, 7, 1, "done")))
    // Simulate a crash mid-append: a truncated JSON line at the tail.
    Files.write(Paths.get(ckpt, "checkpoint.jsonl"),
      """{"run_id":"r1","stage":"edges","part":2,"input_"""
        .getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.APPEND)
    val done = Checkpoint.ackedFingerprints(ckpt, "r1", "edges", "snap-0").keySet
    assert(done == Set(0, 1), s"torn line must read as not-done: $done")
    // And appends still work after the torn line.
    Checkpoint.append(spark, ckpt, Seq(
      CheckpointRow("r1", "edges", 3, "snap-0", "ef", 1, 1, 1, "done")))
    assert(Checkpoint.ackedFingerprints(ckpt, "r1", "edges", "snap-0").keySet == Set(0, 1, 3))
  }

  test("reused workDir with changed synth config rebuilds the pages table") {
    val dir = tmpDir("graft-synthfp")
    val cfgA = PipelineConfig(seed = 3L, nPages = 50L, partitions = 2,
      outputBuckets = 4, workDir = dir, runId = "a")
    Pipeline.buildPagesTable(spark, cfgA)
    val nA = IcebergishTable.read(spark, s"$dir/pages").count()
    assert(nA == 50L)
    // Same dir, changed nPages: must NOT serve the stale 50-page table.
    val cfgB = cfgA.copy(nPages = 80L)
    Pipeline.buildPagesTable(spark, cfgB)
    assert(IcebergishTable.read(spark, s"$dir/pages").count() == 80L)
    // Unchanged config: reuse (VERSION unchanged → no new snapshot).
    val snapBefore = IcebergishTable.currentSnapshot(s"$dir/pages")
    Pipeline.buildPagesTable(spark, cfgB)
    assert(IcebergishTable.currentSnapshot(s"$dir/pages") == snapBefore)
  }

  test("resume verifies acked fingerprints: a tampered bucket recomputes") {
    import spark.implicits._
    val numParts = 4
    val df = (1 to 40).map(i => Triple(s"E$i", "p", s"F$i", s"u$i", 1.0)).toDF
    val dir = tmpDir("graft-tamper")
    GraphOut.writeBucketedDedup(df, s"$dir/edges", "subj", numParts,
      Seq("subj", "pred", "obj", "url"), s"$dir/ckpt", "r1", "edges",
      inputTag = "snap-0")
    val full = IcebergishTable.read(spark, s"$dir/edges")
      .select("subj").as[String].collect().toSet

    // Tamper: wipe one acked bucket's data files behind the checkpoint's back.
    val victim = bucketOf("E1", numParts)
    deletePartitionDirs(s"$dir/edges", Seq(victim))
    // Same runId/stage/inputTag: without verification this would full-skip.
    val resumed = GraphOut.writeBucketedDedup(df, s"$dir/edges", "subj",
      numParts, Seq("subj", "pred", "obj", "url"), s"$dir/ckpt", "r1",
      "edges", inputTag = "snap-0")
    assert(resumed.partsWritten == Seq(victim),
      s"expected only bucket $victim to recompute: $resumed")
    val got = IcebergishTable.read(spark, s"$dir/edges")
      .select("subj").as[String].collect().toSet
    assert(got == full, "tampered bucket was not restored")
  }

  test("canon above the driver gate: join-canonicalize build equals collect-path build") {
    import spark.implicits._
    def edges(workDir: String): Set[(String, String, String, String)] =
      IcebergishTable.read(spark, s"$workDir/edges")
        .select("subj", "pred", "obj", "url")
        .as[(String, String, String, String)].collect().toSet
    val d1 = tmpDir("graft-ccgate-collect")
    Pipeline.build(spark, PipelineConfig(seed = 9L, nPages = 200L,
      partitions = 4, outputBuckets = 8, workDir = d1, runId = "a"))
    val d2 = tmpDir("graft-ccgate-join")
    // Gate at 0 edges: forces distributed CC + join canonicalization —
    // the path a discovered-entity (driver-hostile) sameAs graph takes.
    Pipeline.build(spark, PipelineConfig(seed = 9L, nPages = 200L,
      partitions = 4, outputBuckets = 8, workDir = d2, runId = "b",
      ccLocalThreshold = 0L))
    assert(edges(d1) == edges(d2))
  }

  test("numeric entities above the BMP decode to surrogate pairs, lone surrogates pass through") {
    val g = graft.extract.HtmlText.extract(
      "<p>a &#128512; b</p>".getBytes(StandardCharsets.UTF_8))
    assert(g == "a 😀 b", s"got ${g.toList}")
    // Lone surrogate / out-of-range codepoints are not valid entities:
    // the literal text passes through deterministically.
    val bad = graft.extract.HtmlText.extract(
      "<p>x &#55296; &#1114112; y</p>".getBytes(StandardCharsets.UTF_8))
    assert(bad == "x &#55296; &#1114112; y")
  }
}
