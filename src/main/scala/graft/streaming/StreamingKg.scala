package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.{CheckpointRow, Page, Triple}
import graft.functions.HtmlExtractExpr.html_extract
import graft.io.IcebergishTable
import graft.materialize.{Checkpoint, GraphOut}
import graft.synth.PageSynth
import graft.triples.TripleExtract

/** Incremental KG construction: the batch pipeline's narrow scan pass is
  * purely row-local, so it lifts unchanged onto Structured Streaming —
  * new page files appearing under the table become triples exactly as in
  * batch. The file-source checkpoint supplies progress, and the table's
  * manifest records each stream's last committed micro-batch in the same
  * atomic swap that publishes the batch's files — the streaming twin of
  * the reference's batch-ack cursor (its `src/sharding.rs:237-271`), and
  * like that cursor a micro-batch is one pass: one dataflow, one commit.
  */
object StreamingKg {

  /** The source columns, typed as in [[graft.Page]]: inferring them would
    * cost a job over a directory that grows with every landed batch. */
  private val PageSchema = StructType(Encoders.product[Page].schema
    .filter(f => Seq("url", "warc_ts", "html", "lang").contains(f.name)))

  /** Streaming triples from a pages directory (parquet files appear over
    * time): the build's fused pass ([[TripleExtract.extractDirect]]) with
    * the dictionary-derived sameAs components `canon` folded into its
    * broadcast link winners, as [[graft.Pipeline.canonicalTriples]] folds
    * them for a batch.
    */
  def triplesStream(spark: SparkSession, pagesDataDir: String,
                    canon: Map[String, String]): Dataset[Triple] = {
    import spark.implicits._
    val pages = spark.readStream
      .schema(PageSchema)
      .option("maxFilesPerTrigger", "8")
      .parquet(pagesDataDir)
      .select(col("url"), col("warc_ts"), col("html"),
        html_extract(col("html")).as("text"), col("lang"))
      .as[Page]
    TripleExtract.extractDirect(pages, PageSynth.aliasDictionary,
      PageSynth.relations.toMap, canon)
  }

  /** One exactly-once micro-batch append into the bucketed Icebergish
    * triple table. The current manifest's `epochs(queryId)` is the replay
    * guard: a batch at or below it already committed, so it returns before
    * running any Spark job. Otherwise the batch is deduped against itself
    * and the committed table, then appended with `queryId → batchId` in the
    * same commit: the files and the epoch publish in one VERSION swap. A
    * crash before that swap leaves only orphan files no manifest references
    * (invisible to reads, reclaimed by [[IcebergishTable.removeOrphans]]),
    * and the replay commits the batch once; after it, the replay is a no-op.
    *
    * The batch is ONE dataflow that only the append's write consumes:
    * nothing is cached, collected or counted on the way. A batch with no
    * fresh rows stages no files and commits nothing. Each processed batch
    * then appends one lineage row to `$table-acks` whose `rows_out` is the
    * row count the writing tasks read back from the committed files'
    * footers; nothing reads it back for replay.
    */
  def appendBatch(batch: DataFrame, table: String, queryId: String,
                  batchId: Long, numParts: Int): Unit = {
    if (IcebergishTable.streamEpoch(table, queryId).exists(_ >= batchId)) return
    val spark = batch.sparkSession
    val key = Seq("subj", "pred", "obj", "url")
    val withPart = batch.withColumn(IcebergishTable.PartCol,
      IcebergishTable.partExpr("subj", numParts))
    val deduped = GraphOut.bucketedDedupPlanAligned(withPart, numParts, "subj", key)
    // CROSS-BATCH dedup (late-data semantics): a page re-delivered in a
    // later micro-batch — a duplicated input file, an upstream retry —
    // re-emits triples an earlier batch already committed, which the
    // in-batch dedup cannot see. Anti-joining the table's committed state
    // on the dedup key makes the incremental build converge to the batch
    // build for ANY partitioning, ordering or duplication of the same
    // pages. The probe reads the whole table: picking the batch's buckets
    // first would cost a driver collect (a job over the source, extraction
    // and dedup shuffle), and a batch of thousands of rows touches every
    // bucket anyway. The write below cannot feed its own probe:
    // `IcebergishTable.read` pins the current snapshot when it is called,
    // and its scan reports the snapshot's bytes and row counts, so a table
    // under the broadcast threshold is broadcast, not shuffled.
    val fresh =
      if (!IcebergishTable.exists(table)) deduped
      else deduped
        .join(IcebergishTable.read(spark, table).select(key.map(col): _*), key, "left_anti")
        // Restore bucket alignment: free after a broadcast anti-join, one
        // file per bucket after a sort-merge one (hashed on the full key).
        .repartition(numParts, col("subj"))
    val n = IcebergishTable.appendPrePartitioned(fresh, table, numParts, "subj",
      queryId, batchId)
    Checkpoint.append(spark, s"$table-acks", Seq(CheckpointRow(
      "stream", "append", 0, s"batch-$batchId", queryId, n, n, 0L, "done")))
  }

  /** Incremental KG straight into the BUCKETED Icebergish edge table —
    * the production sink shape: each micro-batch commits once under the
    * stream's persistent query id (Spark sets `sql.streaming.queryId` on
    * the micro-batch thread; it lives in the stream checkpoint, so it
    * survives restarts and a new checkpoint gets a new one). The output is
    * the same snapshot/manifest table format the batch pipeline writes
    * (time-travel, bucket layout, DSv2 catalog all apply).
    */
  def buildIncrementalBucketed(spark: SparkSession, pagesDataDir: String,
                               table: String, checkpointDir: String,
                               canon: Map[String, String],
                               numParts: Int = 16): DataFrame = {
    val q = triplesStream(spark, pagesDataDir, canon).toDF
      .writeStream
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        appendBatch(batch, table,
          spark.sparkContext.getLocalProperty("sql.streaming.queryId"),
          batchId, numParts))
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    IcebergishTable.read(spark, table)
  }
}
