package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.io.IcebergishTable
import graft.ops.IncrementalDedup
import graft.synth.Rng

/** The streaming dedup's exactly-once append: a replayed micro-batch is
  * answered by the manifest epoch guard before any Spark job runs.
  */
class IncrementalDedupSpec extends SparkSpec {

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

  test("appendBatch replaying a committed batch id runs no Spark job and commits nothing") {
    import spark.implicits._
    // Near-dups cross batches: doc i+20 is doc i plus a word, batched by id % 3.
    def doc(i: Long): String =
      (0 until 30).map(k => s"w${Rng.nextInt(37L, i, k.toLong, 50)}").mkString(" ")
    val corpus = ((0L until 20L).map(i => (i, doc(i))) ++
      (20L until 30L).map(i => (i, doc(i - 20) + " tail"))).toDF("doc_id", "text")
    val base = specDir("graft-incjobs")
    val (state, pairsT) = (s"$base/sigs", s"$base/pairs")
    val batches = (0 until 3).map(i => corpus.where(pmod(col("doc_id"), lit(3)) === i))
    batches.zipWithIndex.foreach { case (b, i) =>
      IncrementalDedup.appendBatch(b, "doc_id", "text", state, pairsT, "q", i.toLong)
    }
    assert(IcebergishTable.streamEpoch(pairsT, "q") == Some(2L), "the last batch added no pairs")
    assert(IcebergishTable.streamEpoch(state, "q") == Some(2L))
    val (stateSnap, pairsSnap) =
      (IcebergishTable.currentSnapshot(state), IcebergishTable.currentSnapshot(pairsT))

    val jobs = jobsOf(
      IncrementalDedup.appendBatch(batches(2), "doc_id", "text", state, pairsT, "q", 2L))
    assert(jobs == 0, s"replayed batch ran $jobs Spark jobs")
    assert(IcebergishTable.currentSnapshot(state) == stateSnap)
    assert(IcebergishTable.currentSnapshot(pairsT) == pairsSnap)
  }
}
