package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.io.{IcebergishTable, Manifest}
import graft.materialize.Checkpoint
import graft.streaming.StreamingKg
import graft.synth.PageSynth

/** The streaming sink's micro-batch append: its Spark job budget, the acked
  * row count, the no-fresh-rows path and the sort-merge anti-join branch.
  */
class StreamingKgSpec extends SparkSpec {

  private def triples(range: Range): Seq[Triple] =
    range.map(i => Triple(s"S$i", "p", s"O${i % 7}", s"u$i", 1.0))

  private def acks(table: String): Seq[CheckpointRow] =
    Checkpoint.readRows(s"$table-acks")

  /** Spark jobs `body` runs (the listener bus flushed on both sides). */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    org.apache.spark.graftmetrics.ListenerFlush.flush(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.graftmetrics.ListenerFlush.flush(sc)
      n.get()
    } finally sc.removeSparkListener(listener)
  }

  test("appendBatch of a small batch into a broadcast-sized table runs at most 3 Spark jobs") {
    import spark.implicits._
    val table = specDir("graft-skjobs").toString + "/edges"
    StreamingKg.appendBatch(triples(0 until 40).toDF, table, "q", 0L, 4)
    // Half the batch is already committed, half is new, with in-batch dups.
    val batch = (triples(20 until 60) ++ triples(50 until 60)).toDF
    val jobs = jobsOf(StreamingKg.appendBatch(batch, table, "q", 1L, 4))
    // The in-batch dedup's shuffle, the committed side's broadcast, and the
    // write: no cache builds, bucket-list collect or separate count.
    assert(jobs <= 3, s"appendBatch ran $jobs Spark jobs")
    assert(IcebergishTable.read(spark, table).count() == 60)
  }

  test("a re-delivered batch commits nothing and acks 0 rows; a normal batch acks its row delta") {
    import spark.implicits._
    val table = specDir("graft-skrows").toString + "/edges"
    StreamingKg.appendBatch(triples(0 until 30).toDF, table, "q", 0L, 4)
    assert(acks(table).map(_.rows_out) == Seq(30L))

    // The same triples under a new batch id: every row is already committed.
    val snap = IcebergishTable.currentSnapshot(table)
    StreamingKg.appendBatch(triples(0 until 30).toDF, table, "q", 1L, 4)
    assert(IcebergishTable.currentSnapshot(table) == snap, "no-fresh batch made a snapshot")
    assert(IcebergishTable.streamEpoch(table, "q") == Some(0L))
    val staging = Paths.get(table, "data", "_staging")
    assert(!Files.exists(staging) || {
      val s = Files.list(staging)
      try !s.iterator().hasNext finally s.close()
    }, "staging left behind")
    assert(acks(table).last == CheckpointRow("stream", "append", 0, "batch-1", "q",
      0L, 0L, 0L, "done"))

    // A normal batch: overlap, in-batch duplicates and new rows. rows_out is
    // exactly the rows the table gained.
    val before = IcebergishTable.read(spark, table).count()
    StreamingKg.appendBatch((triples(25 until 45) ++ triples(40 until 45)).toDF,
      table, "q", 2L, 4)
    val after = IcebergishTable.read(spark, table).count()
    assert(after - before == 15)
    assert(acks(table).last.rows_out == after - before)
    assert(IcebergishTable.streamEpoch(table, "q") == Some(2L))
  }

  test("sort-merge anti-join: late/duplicated pages converge with at most one file per bucket per commit") {
    import spark.implicits._
    // No broadcast, and no coalescing of the join's shuffle into one task
    // (which would hide a lost bucket alignment at this data size): the
    // plan a table past the broadcast threshold gets.
    val confs = Map("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(planListener)
    try {
      val base = specDir("graft-sksmj").toString
      val pagesDir = s"$base/pages-data"
      Files.createDirectories(Paths.get(pagesDir))
      val canon = PageSynth.sameAsPairs.map { case (c, d) => d -> c }.toMap
      val table = s"$base/edges"
      val all = PageSynth.pages(spark, 37L, 120L, 2).toDF.localCheckpoint()
      val half = pmod(xxhash64(col("url")), lit(2))

      // Out of order and duplicated: the second half first, then the first
      // half together with a late re-delivery of the second.
      all.where(half === 1).write.mode("append").parquet(pagesDir)
      StreamingKg.buildIncrementalBucketed(spark, pagesDir, table,
        s"$base/ckpt", canon, numParts = 8)
      all.where(half === 0).write.mode("append").parquet(pagesDir)
      all.where(half === 1).write.mode("append").parquet(pagesDir)
      val out = StreamingKg.buildIncrementalBucketed(spark, pagesDir, table,
        s"$base/ckpt", canon, numParts = 8)

      val pages = all
        .select(col("url"), col("warc_ts"), col("html"),
          graft.functions.HtmlExtractExpr.html_extract(col("html")).as("text"),
          col("lang")).as[Page]
      val batch = graft.triples.TripleExtract.extractDirect(pages,
          PageSynth.aliasDictionary, PageSynth.relations.toMap)
        .map(t => (canon.getOrElse(t.subj, t.subj), t.pred,
          canon.getOrElse(t.obj, t.obj), t.url))
        .collect().toSet
      val streamed = out.select("subj", "pred", "obj", "url")
        .as[(String, String, String, String)].collect()
      assert(streamed.toSet == batch,
        s"missing=${(batch -- streamed.toSet).take(3)} extra=${(streamed.toSet -- batch).take(3)}")
      assert(streamed.length == batch.size, "duplicate rows")
      org.apache.spark.graftmetrics.ListenerFlush.flush(spark.sparkContext)
      assert(plans.toArray.exists { p =>
        val s = p.toString
        s.contains("SortMergeJoin") && s.contains("LeftAnti")
      }, "no append planned the anti-join as a sort-merge join")

      // Every commit's own files (seq = its snapshot): one per bucket at most.
      val last = IcebergishTable.currentSnapshot(table)
      assert(last >= 1, "expected a commit per delivery")
      (0 to last).foreach { s =>
        val own = Manifest.read(table, s).files.filter(_.seq == s)
          .map(f => IcebergishTable.bucketOfPath(f.path))
        assert(own.size == own.distinct.size, s"snapshot $s wrote ${own.size} files: $own")
      }
    } finally {
      spark.listenerManager.unregister(planListener)
      saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}
