package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.canon.ConnectedComponents
import graft.io.IcebergishTable
import graft.materialize.GraphOut
import graft.synth.PageSynth
import graft.triples.TripleExtract

/** End-to-end KG construction pipeline (SURVEY.md §7.2 #9, north_star):
  *
  *   pages (Iceberg-style table) ──scan (url, html) only──▶ ONE fused
  *   narrow pass ([[Pipeline.canonicalTriples]]: HTML→text extraction ──▶
  *   mention scan (broadcast trie) ──▶ map-side linking against broadcast
  *   alias winners, canonical through the sameAs components ──▶ relation
  *   candidates ──▶ triples) ──▶ vertex/edge tables with per-partition
  *   checkpoint + lineage.
  *
  * Defaults mirror the reference's configuration envelope
  * (/root/reference/src/config.rs:112-114: parallelism 8, batch 100k):
  * `partitions` plays parallelism, `outputBuckets` the shard count.
  */
final case class PipelineConfig(
    seed: Long = 42L,
    nPages: Long = 1000L,
    partitions: Int = 32,
    outputBuckets: Int = 32,
    workDir: String = "/tmp/graft-pipeline",
    runId: String = "run-1",
    sentMin: Int = 3,
    sentSpread: Int = 5,
    // Max sameAs-edge count for which the component map is collected to the
    // driver and folded into the broadcast link winners; above it the build
    // canonicalizes via a join instead (driver-OOM guard for the day the
    // sameAs graph comes from DISCOVERED entities, not the dictionary).
    ccLocalThreshold: Long = 500000L,
    // Planted-hub synthesis share (north_rule skew case): fraction of fact
    // sentences whose subject is entity 0. 0 = historical corpus.
    hubShare: Double = 0.0,
    // Write-side skew split: the maximum number of tasks (and files) one
    // output bucket of the edge table may span. 1 = one task per bucket;
    // n > 1 = a bucket splits, up to n ways, only when the edges shuffle's
    // map statistics show it alone outweighs a core's fair share (see
    // GraphOut.bucketedDedupPlanAlignedSalted, plans.SplitHotBuckets);
    // 0 = AUTO, min(8, defaultParallelism) (see Pipeline.autoSplit).
    writeSalt: Int = 1
)

// InvalidConfig and the rest of the typed failure taxonomy live in
// model.scala (sealed GraftError hierarchy).

object Pipeline {

  /** Fail fast on inconsistent configuration (reference: verify_parameters
    * rejects fields+all-attributes conflicts at init, graph_loader.rs:253).
    */
  def validate(cfg: PipelineConfig): Unit = {
    def bad(m: String) = throw new InvalidConfig(m)
    if (cfg.nPages <= 0) bad(s"nPages must be positive: ${cfg.nPages}")
    if (cfg.partitions <= 0) bad(s"partitions must be positive: ${cfg.partitions}")
    if (cfg.outputBuckets <= 0) bad(s"outputBuckets must be positive: ${cfg.outputBuckets}")
    if (cfg.sentMin < 1 || cfg.sentSpread < 1)
      bad(s"sentence grammar needs sentMin>=1, sentSpread>=1: ${cfg.sentMin}/${cfg.sentSpread}")
    if (cfg.writeSalt < 0) bad(s"writeSalt must be >= 0 (0 = auto): ${cfg.writeSalt}")
    if (cfg.workDir.isEmpty || cfg.runId.isEmpty) bad("workDir and runId are required")
  }

  /** AUTO maximum split (cfg.writeSalt == 0): as many splits as cores, up
    * to 8. No sample job: which buckets split, and how far, is decided from
    * the edges shuffle's own map statistics once its map stage has run
    * ([[graft.plans.SplitHotBuckets]]).
    */
  def autoSplit(spark: SparkSession): Int =
    math.max(1, math.min(8, spark.sparkContext.defaultParallelism))

  /** [[autoSplit]] of the session of `pages`. The other parameters are
    * unused; the signature stays for callers that replay [[build]] step by
    * step.
    */
  private[graft] def autoSalt(pages: Dataset[Page],
                              aliasDict: Seq[Alias],
                              phrases: Map[String, String],
                              canon: Map[String, String],
                              numParts: Int,
                              samplePages: Int = 1000,
                              canonDf: Option[DataFrame] = None): Int =
    autoSplit(pages.sparkSession)

  /** Stage 0: synthesize the input table and materialize it Iceberg-style.
    * Idempotent: skipped when the table already exists with the same
    * snapshot contract (deterministic synthesis ⇒ same content).
    */
  def buildPagesTable(spark: SparkSession, cfg: PipelineConfig): String = {
    val table = s"${cfg.workDir}/pages"
    // Content fingerprint of the synthesis config: a reused workDir with a
    // CHANGED config must not silently serve stale pages (the synthesizer is
    // deterministic, so same fingerprint ⇒ same table content). Mismatch ⇒
    // rebuild. `partitions`/`outputBuckets` shape parallelism/layout only —
    // pages is a read-only input downstream, so layout is not part of the
    // content contract.
    val fingerprint =
      s"seed=${cfg.seed};nPages=${cfg.nPages};sentMin=${cfg.sentMin};" +
        s"sentSpread=${cfg.sentSpread}" +
        (if (cfg.hubShare > 0) s";hubShare=${cfg.hubShare}" else "")
    val fpFile = java.nio.file.Paths.get(table, "SYNTH_CONFIG")
    val current =
      if (java.nio.file.Files.exists(fpFile))
        Some(new String(java.nio.file.Files.readAllBytes(fpFile),
          java.nio.charset.StandardCharsets.UTF_8).trim)
      else None
    if (!IcebergishTable.exists(table) || !current.contains(fingerprint)) {
      // A shared (symlinked) pages table is someone else's data: never walk
      // through the link and delete it — unlink and rebuild locally.
      val tPath = java.nio.file.Paths.get(table)
      if (java.nio.file.Files.isSymbolicLink(tPath))
        java.nio.file.Files.delete(tPath)
      else if (IcebergishTable.exists(table)) IcebergishTable.drop(table)
      val pages = PageSynth.pages(spark, cfg.seed, cfg.nPages, cfg.partitions,
        cfg.sentMin, cfg.sentSpread, cfg.hubShare)
      IcebergishTable.write(pages.toDF, table, "url", cfg.outputBuckets)
      java.nio.file.Files.write(fpFile,
        fingerprint.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    table
  }

  /** Read pages projecting only (url, html) — Catalyst pushes the pruning
    * into the parquet scan (the reference's projection pushdown, P1).
    */
  def readPagesForExtraction(spark: SparkSession, table: String): Dataset[Page] = {
    import spark.implicits._
    // html_extract is a native codegen'd Expression: scan → project →
    // extract fuse into one WholeStageCodegen span (no UDF, no ser/deser).
    IcebergishTable.read(spark, table)
      .select(col("url"), col("warc_ts"), col("html"),
        graft.functions.HtmlExtractExpr.html_extract(col("html")).as("text"),
        col("lang"))
      .as[Page]
  }

  /** The one path from pages to canonical triples, shared by [[build]],
    * the KG queries (`SparkEntry.entry`) and, with a fixed map, the stream
    * (`StreamingKg.triplesStream`). The strategy gate is SIZE: a sameAs
    * graph at dictionary scale collapses to a driver map folded into the
    * broadcast link winners of the fused pass ([[TripleExtract.extractDirect]]:
    * codegen'd html_extract → char-trie scan → map-side canonical linking →
    * local candidate resolution, zero shuffles); a huge one (discovered
    * entities) never touches the driver — the raw triples canonicalize via
    * a join whose broadcast/shuffle choice is left to AQE. No dedup: the
    * caller dedups (the bucketed writer in its own shuffle).
    */
  def canonicalTriples(pages: Dataset[Page], ccLocalThreshold: Long): Dataset[Triple] = {
    val spark = pages.sparkSession
    val aliasDict = PageSynth.aliasDictionary
    val phrases = PageSynth.relations.toMap
    val (canonDf, fitsDriver) = ConnectedComponents.componentsSized(
      PageSynth.sameAs(spark).toDF("src", "dst"),
      localThreshold = ccLocalThreshold)
    if (fitsDriver)
      TripleExtract.extractDirect(pages, aliasDict, phrases,
        canonDf.collect().map(r => r.getString(0) -> r.getString(1)).toMap)
    else
      TripleExtract.canonicalize(
        TripleExtract.extractDirect(pages, aliasDict, phrases),
        canonDf, assumeSmall = false, dedup = false)
  }

  /** The one build path: [[canonicalTriples]], then ONE shuffle (bucket
    * exchange with in-shuffle sort-dedup, one file per bucket, lineage from
    * the written columnar files). No per-stage counts — the only actions
    * are the canonicalization and the checkpointed writes. Returns the
    * number of edge rows written (from the checkpoint layer's lineage, i.e.
    * free); a resumed build counts only the buckets it rewrote. PipelineSpec
    * proves the edge table equals the join-based oracle's composition
    * (scan → broadcast-join link → candidate joins → ConnectedComponents).
    */
  def build(spark: SparkSession, cfg: PipelineConfig): Long = {
    validate(cfg)
    val table = buildPagesTable(spark, cfg)
    val pages = readPagesForExtraction(spark, table)
    val ckpt = s"${cfg.workDir}/checkpoint"
    val edgesTable = s"${cfg.workDir}/edges"
    val inputTag = s"snap-${IcebergishTable.currentSnapshot(table)}"
    val rawTriples = canonicalTriples(pages, cfg.ccLocalThreshold)
    val salt = if (cfg.writeSalt == 0) autoSplit(spark) else cfg.writeSalt
    val edgeStats = GraphOut.writeBucketedDedup(
      rawTriples.toDF, edgesTable, "subj", cfg.outputBuckets,
      Seq("subj", "pred", "obj", "url"), ckpt, cfg.runId, "edges",
      inputTag = inputTag, skewSalt = salt)

    // Vertices derive from the written (compressed, pruned) edge table via
    // the fused single-exchange plan: endpoint-id union → ONE bucket
    // exchange → in-partition (part, id) degree aggregate → one file per
    // bucket (the old path exchanged twice: groupBy(id) + repartition).
    GraphOut.writeVerticesBucketed(
      IcebergishTable.read(spark, edgesTable), s"${cfg.workDir}/vertices",
      cfg.outputBuckets, ckpt, cfg.runId, "vertices", inputTag = inputTag)
    // Cross-table atomic publish: pin (pages, edges, vertices) snapshots in
    // one root commit — a reader resolving through the root can never see
    // new edges with old vertices (the torn window between the two stage
    // commits above). See io.RootCommit.
    graft.io.RootCommit.commit(cfg.workDir, Map(
      "pages" -> IcebergishTable.currentSnapshot(table),
      "edges" -> IcebergishTable.currentSnapshot(edgesTable),
      "vertices" -> IcebergishTable.currentSnapshot(s"${cfg.workDir}/vertices")))
    edgeStats.rowsWritten
  }
}
