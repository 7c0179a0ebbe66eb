package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Observation
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.io.{IcebergishTable, Manifest}

/** The table writer: its plan shape and job count, its abort path, the
  * session's parquet settings reaching the files, and the manifest bounds
  * it records used only where they are exact.
  */
class TableWriterSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Every path under `table`, relative to it. */
  private def tree(table: String): Set[String] = {
    val root = Paths.get(table)
    val s = Files.walk(root)
    try s.iterator().asScala.map(p => root.relativize(p).toString).toSet
    finally s.close()
  }

  test("a bucket-aligned write is one job of numParts tasks under one exchange, with no sort") {
    val t = specDir("graft-wshape").toString + "/t"
    val n = 4
    val obs = Observation("wshape")
    val df = spark.range(0, 200, 1, 2)
      .select(concat(lit("k"), col("id")).as("k"), col("id").as("v"))
      .withColumn(IcebergishTable.PartCol, IcebergishTable.partExpr("k", n))
      .repartition(n, col(IcebergishTable.PartCol))
      .observe(obs, count(lit(1)).as("rows"))
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val planListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // Tasks of each job's last (result) stage.
    val jobTasks = new ConcurrentLinkedQueue[Int]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobTasks.add(e.stageInfos.maxBy(_.stageId).numTasks)
    }
    val sc = spark.sparkContext
    org.apache.spark.graftmetrics.ListenerFlush.flush(sc)
    spark.listenerManager.register(planListener)
    sc.addSparkListener(jobListener)
    try {
      IcebergishTable.writePrePartitioned(df, t, n, "k")
      org.apache.spark.graftmetrics.ListenerFlush.flush(sc)
    } finally {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
    }
    // The shuffle's map stage, then the write: one job of n tasks.
    assert(jobTasks.asScala.toSeq == Seq(2, n), s"jobs' result-stage tasks: $jobTasks")
    val write = plans.asScala.toSeq
    assert(write.size == 1, s"${write.size} executions")
    assert(collect(write.head) { case e: ShuffleExchangeLike => e }.size == 1, write.head)
    assert(collect(write.head) { case s: SortExec => s }.isEmpty, write.head)
    assert(obs.get("rows") == 200L)
    assert(IcebergishTable.read(spark, t).count() == 200)
    val leftovers = tree(t).filter(p => p.split('/').exists(seg =>
      seg == "_temporary" || seg == "_SUCCESS" || seg.endsWith(".crc") || seg == "_staging"))
    assert(leftovers.isEmpty, s"left under the table: $leftovers")
  }

  test("an append whose task throws on one row commits nothing and leaves no file") {
    import spark.implicits._
    val t = specDir("graft-wabort").toString + "/t"
    IcebergishTable.write((0 until 40).map(i => (s"k$i", i.toLong)).toDF("k", "v"), t, "k", 4)
    val snap = IcebergishTable.currentSnapshot(t)
    val before = tree(t)
    def rows(): Seq[(String, Long)] =
      IcebergishTable.read(spark, t).select("k", "v").as[(String, Long)].collect().toSeq.sorted
    val rowsBefore = rows()
    val boom = udf { (k: String) =>
      if (k == "k57") throw new IllegalStateException("boom on k57")
      k
    }
    // The failing projection runs after the exchange: inside a write task.
    val batch = (40 until 80).map(i => (s"k$i", i.toLong)).toDF("k", "v")
      .withColumn(IcebergishTable.PartCol, IcebergishTable.partExpr("k", 4))
      .repartition(4, col(IcebergishTable.PartCol))
      .select(boom(col("k")).as("k"), col("v"), col(IcebergishTable.PartCol))
    intercept[SparkException] {
      IcebergishTable.appendPrePartitioned(batch, t, 4, "k", "q", 0L)
    }
    assert(IcebergishTable.currentSnapshot(t) == snap, "a failed append committed")
    assert(tree(t) == before, s"left behind: ${tree(t) -- before}")
    assert(rows() == rowsBefore)
  }

  test("metadata MIN/MAX never answers from a writer-truncated string bound") {
    import spark.implicits._
    val hc = spark.sparkContext.hadoopConfiguration
    val key = "parquet.statistics.truncate.length"
    val prior = Option(hc.get(key))
    hc.set(key, "8")
    try {
      val t = specDir("graft-trunc").toString + "/t"
      val values = (0 until 50).map(i => f"value-string-number-$i%04d")
      IcebergishTable.write(values.toDF("s"), t, "s", 4)
      val stats = Manifest.read(t, IcebergishTable.currentSnapshot(t)).files.map(_.stats)
      // The session's parquet.* setting reached the writer: every file's
      // lower bound is the 8-byte truncated prefix.
      assert(stats.size == 4 && stats.forall(_.get("s").map(_._1).contains("value-st")),
        s"bounds: $stats")
      // Pruning on the truncated bounds stays: no file can hold "zzz".
      assert(plannedFiles(IcebergishTable.read(spark, t).where(col("s") === "zzz")).isEmpty)
      // MIN/MAX answer the exact values.
      val r = IcebergishTable.read(spark, t).agg(min("s"), max("s")).head()
      assert((r.getString(0), r.getString(1)) ==
        (("value-string-number-0000", "value-string-number-0049")))
    } finally prior.fold(hc.unset(key))(hc.set(key, _))
  }
}
