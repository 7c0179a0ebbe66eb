package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.io.{IcebergishTable, RootCommit}
import graft.materialize.{Checkpoint, GraphOut}
import graft.synth.PageSynth
import graft.triples.TripleExtract
import graft.canon.ConnectedComponents
import graft.JoinOracle.{link, scanPages, triples}

/** End-to-end pipeline: golden-triple P/R, canonicalization, and
  * checkpointed resume (FIXTURES.md §4, §6). The join-based operators of
  * [[JoinOracle]] are the oracle the fused `Pipeline.build` must equal.
  */
class PipelineSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    specDir(prefix).toString

  private type Edge = (String, String, String, String)

  private def edgeSet(df: DataFrame): Set[Edge] = {
    import spark.implicits._
    df.select("subj", "pred", "obj", "url").as[Edge].collect().toSet
  }

  /** The general-operator composition over a pages table: one scan pass →
    * broadcast-join + window linking → candidate join resolution →
    * canonicalization by distributed connected components over sameAs.
    */
  private def oracleTriples(pagesTable: String): DataFrame = {
    import spark.implicits._
    val scanned = scanPages(
      Pipeline.readPagesForExtraction(spark, pagesTable),
      PageSynth.aliasDictionary, PageSynth.relations.toMap)
    val linked = link(scanned.flatMap(_.mentions),
      PageSynth.aliases(spark))
    TripleExtract.canonicalize(
      triples(scanned.flatMap(_.cands), linked),
      ConnectedComponents.components(
        PageSynth.sameAs(spark).toDF("src", "dst"))).toDF
  }

  test("e2e: emitted triples reach P/R >= 0.95 vs golden set (exact match expected)") {
    import spark.implicits._
    val cfg = PipelineConfig(seed = 42L, nPages = 600L, partitions = 8,
      outputBuckets = 16, workDir = tmpDir("graft-e2e"), runId = "r1")
    val rows = Pipeline.build(spark, cfg)
    assert(IcebergishTable.read(spark, s"${cfg.workDir}/pages").count() == 600L)
    assert(rows > 0)

    val got = IcebergishTable.read(spark, s"${cfg.workDir}/edges")
      .select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet
    val goldenCanon = PageSynth.goldenTriples(spark, 42L, 600L, 8)
      .map(t => (t.subj, t.pred, t.obj)).collect().toSet
    // The atomic cross-table root serves exactly the rows build() wrote.
    assert(RootCommit.currentRoot(cfg.workDir) >= 0)
    assert(RootCommit.readConsistent(spark, cfg.workDir, "edges")
      .count() == rows)

    val tp = (got intersect goldenCanon).size.toDouble
    val precision = tp / got.size
    val recall = tp / goldenCanon.size
    assert(precision >= 0.95, s"precision $precision")
    assert(recall >= 0.95, s"recall $recall")
    // By construction the pipeline should be exact, not merely >= 0.95.
    assert(got == goldenCanon)

    // Canonicalization really happened: no duplicate-range ids remain.
    val dupIds = got.flatMap(t => Seq(t._1, t._3))
      .filter(id => id >= "E0100" && id < "E0150")
    assert(dupIds.isEmpty, s"uncanonicalized ids: $dupIds")
  }

  test("resume: a write that fails inside its tasks commits and acks nothing; the re-run writes every bucket") {
    import org.apache.spark.sql.functions.{col, udf}
    val cfg = PipelineConfig(seed = 7L, nPages = 300L, partitions = 8,
      outputBuckets = 16, workDir = tmpDir("graft-resume-pages"))
    val triples = oracleTriples(Pipeline.buildPagesTable(spark, cfg))
      .localCheckpoint()
    val dedupCols = Seq("subj", "pred", "obj", "url")

    val numParts = 16
    // Clean full write → expected table.
    val refDir = tmpDir("graft-ref")
    GraphOut.writeBucketedDedup(triples, s"$refDir/edges", "subj", numParts,
      dedupCols, s"$refDir/ckpt", "ref", "edges")
    val expected = edgeSet(IcebergishTable.read(spark, s"$refDir/edges"))

    // Crashing write: a column whose UDF throws fails the write's tasks.
    val boom = udf((u: String) => {
      if (u != null) throw new IllegalStateException("task failure")
      u
    })
    val dir = tmpDir("graft-resume")
    intercept[org.apache.spark.SparkException] {
      GraphOut.writeBucketedDedup(triples.withColumn("url", boom(col("url"))),
        s"$dir/edges", "subj", numParts, dedupCols, s"$dir/ckpt", "r1", "edges")
    }
    assert(!IcebergishTable.exists(s"$dir/edges"), "failed write committed a snapshot")
    assert(Checkpoint.readRows(s"$dir/ckpt").isEmpty, "failed write acked buckets")
    assert(!Files.exists(java.nio.file.Paths.get(s"$dir/edges/data/_staging")),
      "failed write left its staging tree")

    // Re-run with the clean frame: every bucket is written and acked.
    val stats = GraphOut.writeBucketedDedup(triples, s"$dir/edges", "subj",
      numParts, dedupCols, s"$dir/ckpt", "r1", "edges")
    assert(stats.partsWritten == (0 until numParts))
    assert(stats.partsSkipped.isEmpty)
    assert(Checkpoint.ackedFingerprints(s"$dir/ckpt", "r1", "edges", "static").keySet ==
      (0 until numParts).toSet)

    assert(edgeSet(IcebergishTable.read(spark, s"$dir/edges")) == expected)

    // Lineage recorded: every partition has fingerprint + counts.
    val ckpt = Checkpoint.read(spark, s"$dir/ckpt").collect()
    assert(ckpt.map(_.part).toSet == (0 until numParts).toSet)
    assert(ckpt.forall(r => r.status == "done" && r.wall_ms >= 0))
  }

  test("checkpoint acks are bound to the input snapshot: stale tag forces recompute") {
    import spark.implicits._
    val triples = Seq(
      Triple("E1", "p", "E2", "u1", 1.0),
      Triple("E3", "p", "E4", "u2", 1.0)).toDF
    val dir = tmpDir("graft-stale")
    GraphOut.writeBucketedDedup(triples, s"$dir/edges", "subj", 4,
      Seq("subj", "pred", "obj", "url"), s"$dir/ckpt", "r1", "edges",
      inputTag = "snap-0")
    // Same tag → full skip.
    val again = GraphOut.writeBucketedDedup(triples, s"$dir/edges", "subj", 4,
      Seq("subj", "pred", "obj", "url"), s"$dir/ckpt", "r1", "edges",
      inputTag = "snap-0")
    assert(again.partsWritten.isEmpty && again.partsSkipped.size == 4)
    // New input snapshot → acks are stale, everything recomputes.
    val fresh = GraphOut.writeBucketedDedup(triples, s"$dir/edges", "subj", 4,
      Seq("subj", "pred", "obj", "url"), s"$dir/ckpt", "r1", "edges",
      inputTag = "snap-1")
    assert(fresh.partsWritten.size == 4)
  }

  test("fused build() equals the general-operator oracle") {
    val dir = tmpDir("graft-build")
    Pipeline.build(spark, PipelineConfig(seed = 5L, nPages = 250L,
      partitions = 4, outputBuckets = 8, workDir = dir, runId = "b"))
    val oracle = edgeSet(oracleTriples(s"$dir/pages"))
    assert(oracle.nonEmpty)
    assert(edgeSet(IcebergishTable.read(spark, s"$dir/edges")) == oracle)
  }

  test("pipeline is deterministic across runs and parallelism") {
    def buildOnce(parts: Int): Set[Edge] = {
      val cfg = PipelineConfig(seed = 11L, nPages = 150L, partitions = parts,
        outputBuckets = 8, workDir = tmpDir("graft-det"), runId = "d")
      Pipeline.build(spark, cfg)
      edgeSet(IcebergishTable.read(spark, s"${cfg.workDir}/edges"))
    }
    assert(buildOnce(2) == buildOnce(8))
  }

  test("build resume: a re-run skips every acked bucket and a deleted edges bucket alone recomputes") {
    import spark.implicits._
    val cfg = PipelineConfig(seed = 21L, nPages = 200L, partitions = 4,
      outputBuckets = 8, workDir = tmpDir("graft-build-resume"), runId = "r")
    val edgesTable = s"${cfg.workDir}/edges"
    val verticesTable = s"${cfg.workDir}/vertices"
    val ckpt = s"${cfg.workDir}/checkpoint"
    def consistentEdges: Set[Edge] =
      edgeSet(RootCommit.readConsistent(spark, cfg.workDir, "edges"))
    def acks(stage: String): Seq[CheckpointRow] =
      Checkpoint.readRows(ckpt).filter(_.stage == stage)

    val rows = Pipeline.build(spark, cfg)
    val original = consistentEdges
    assert(rows > 0 && original.size == rows)
    val edgesSnap = IcebergishTable.currentSnapshot(edgesTable)
    val verticesSnap = IcebergishTable.currentSnapshot(verticesTable)

    // Same workDir and runId: every bucket of both tables is acked.
    assert(Pipeline.build(spark, cfg) == 0L)
    assert(IcebergishTable.currentSnapshot(edgesTable) == edgesSnap)
    assert(IcebergishTable.currentSnapshot(verticesTable) == verticesSnap)
    assert(consistentEdges == original)

    // Wipe one non-empty edges bucket behind the checkpoint's back.
    val victim = Seq(original.head._1).toDF("k")
      .select(IcebergishTable.partExpr("k", cfg.outputBuckets)).head().getInt(0)
    val victimRows = IcebergishTable.read(spark, edgesTable)
      .where(IcebergishTable.partExpr("subj", cfg.outputBuckets) === victim)
      .count()
    assert(victimRows > 0)
    deletePartitionDirs(edgesTable, Seq(victim))
    val edgeAcksBefore = acks("edges").size
    val vertexAcksBefore = acks("vertices").size

    assert(Pipeline.build(spark, cfg) == victimRows)
    assert(acks("edges").drop(edgeAcksBefore).map(_.part) == Seq(victim))
    assert(acks("vertices").size == vertexAcksBefore)
    assert(IcebergishTable.currentSnapshot(verticesTable) == verticesSnap)
    assert(consistentEdges == original)
    assert(edgeSet(IcebergishTable.read(spark, edgesTable)) == original)
  }
}
