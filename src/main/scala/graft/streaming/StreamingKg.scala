package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel

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
  * the reference's batch-ack cursor (its `src/sharding.rs:237-271`).
  */
object StreamingKg {

  /** Streaming triples from a pages directory (parquet files appear over
    * time). Canonicalization of the dictionary-derived sameAs graph is a
    * static broadcast map, applied inline.
    */
  def triplesStream(spark: SparkSession, pagesDataDir: String,
                    canon: Map[String, String]): Dataset[Triple] = {
    import spark.implicits._
    val schema = spark.read.parquet(pagesDataDir).schema
    val pages = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "8")
      .parquet(pagesDataDir)
      .select(col("url"), col("warc_ts"), col("html"),
        html_extract(col("html")).as("text"), col("lang"))
      .as[Page]
    val canonB = spark.sparkContext.broadcast(canon)
    val raw = TripleExtract.extractDirect(pages, PageSynth.aliasDictionary,
      PageSynth.relations.toMap)
    raw.map { t =>
      val c = canonB.value
      t.copy(subj = c.getOrElse(t.subj, t.subj),
        obj = c.getOrElse(t.obj, t.obj))
    }
  }

  /** One exactly-once micro-batch append into the bucketed Icebergish
    * triple table. The current manifest's `epochs(queryId)` is the replay
    * guard: a batch at or below it already committed, so it returns before
    * running any Spark job. Otherwise the batch is deduped and appended
    * with `queryId → batchId` in the same commit, so the files and the
    * epoch publish in one VERSION swap. A crash before that swap leaves
    * only orphan files no manifest references (invisible to reads,
    * reclaimed by [[IcebergishTable.removeOrphans]]), and the replay
    * commits the batch once; a crash after it makes the replay a no-op.
    *
    * A batch that yields no fresh rows commits nothing. Each processed
    * batch appends one lineage row (`rows_out` = rows committed) to
    * `$table-acks` after its commit; nothing reads it back for replay.
    */
  def appendBatch(batch: DataFrame, table: String, queryId: String,
                  batchId: Long, numParts: Int): Unit = {
    if (IcebergishTable.streamEpoch(table, queryId).exists(_ >= batchId)) return
    val spark = batch.sparkSession
    val withPart = batch.withColumn(IcebergishTable.PartCol,
      IcebergishTable.partExpr("subj", numParts))
    val deduped = GraphOut.bucketedDedupPlanAligned(withPart, numParts,
      "subj", Seq("subj", "pred", "obj", "url"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // CROSS-BATCH dedup (late-data semantics): a page re-delivered in a
    // later micro-batch — a duplicated input file, an upstream retry —
    // re-emits triples an earlier batch already committed, and the
    // in-batch dedup cannot see them. Anti-join the batch against the
    // table's CURRENT committed state on the dedup key, reading ONLY the
    // buckets this batch touches (both sides are bucketed on subj, and the
    // batch's bucket list is bounded by numParts). The incremental build
    // therefore converges to the batch build's table for ANY partitioning,
    // ordering, or duplication of the same logical pages.
    val fresh = (
      if (!IcebergishTable.exists(table)) deduped
      else {
        val batchParts = deduped
          .select(col(IcebergishTable.PartCol)).distinct()
          .collect().map(_.getInt(0)).toSeq
        val existing = IcebergishTable.read(spark, table)
          .where(col(IcebergishTable.PartCol).isin(batchParts: _*))
          .select("subj", "pred", "obj", "url")
        deduped.join(existing, Seq("subj", "pred", "obj", "url"), "left_anti")
          .repartition(numParts, col("subj")) // restore bucket alignment
      }
    ).persist(StorageLevel.MEMORY_AND_DISK)
    val n = fresh.count() // this batch's rows, not a whole-table rescan
    if (n > 0)
      IcebergishTable.appendPrePartitioned(fresh, table, numParts, "subj",
        queryId, batchId)
    fresh.unpersist(blocking = false)
    deduped.unpersist(blocking = false)
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
