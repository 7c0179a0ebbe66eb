package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkFiles
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** `body`'s result and the Spark jobs it ran (the listener bus flushed
    * on both sides).
    */
  def withJobCount[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.graftmetrics.ListenerFlush.flush(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      org.apache.spark.graftmetrics.ListenerFlush.flush(sc)
      (a, n.get())
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the query executions it ran (the listener bus
    * flushed on both sides).
    */
  def withQueries[A](body: => A): (A, Seq[QueryExecution]) = {
    val sc = spark.sparkContext
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qes.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        qes.add(qe)
    }
    org.apache.spark.graftmetrics.ListenerFlush.flush(sc)
    spark.listenerManager.register(listener)
    try {
      val a = body
      org.apache.spark.graftmetrics.ListenerFlush.flush(sc)
      (a, qes.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  def plannedFiles(df: DataFrame): Seq[String] = SparkSpec.plannedFiles(df.queryExecution)

  def specDir(prefix: String): Path = SparkSpec.specDir(prefix)

  /** Remove the data directories of the given buckets, bypassing the
    * manifests: the committed files there go missing under the current
    * snapshot (a tampered table: a deleted bucket must fail resume
    * verification and recompute).
    */
  def deletePartitionDirs(table: String, parts: Seq[Int]): Unit =
    parts.foreach { p =>
      val d = Paths.get(table, "data", s"${graft.io.IcebergishTable.PartCol}=$p")
      if (Files.exists(d)) {
        val s = Files.walk(d)
        try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
        finally s.close()
      }
    }
}

object SparkSpec {
  /** A fresh directory for a spec's files. Every one sits under the shared
    * session's `SparkFiles.getRootDirectory`, which Spark deletes when the
    * JVM exits (the context is never stopped mid-suite), so a suite run
    * leaves nothing in `java.io.tmpdir`. A directory handed to a child JVM
    * lives as long as the parent's session.
    */
  def specDir(prefix: String): Path =
    Files.createTempDirectory(rootDir, prefix)

  private lazy val rootDir: Path = {
    session // the root belongs to the running context
    Paths.get(SparkFiles.getRootDirectory())
  }

  /** Table-relative paths of the data files the graft scans of `qe` plan,
    * after zone-map and bucket pruning.
    */
  def plannedFiles(qe: QueryExecution): Seq[String] =
    qe.sparkPlan.collect { case b: BatchScanExec => b }.flatMap(_.inputPartitions.flatMap {
      case p: graft.sources.v2.GraftBucketPartition => p.files.toSeq.map(_.rel)
      case _ => Seq.empty
    })

  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // MICROS timestamps (not deprecated INT96): parquet footers then carry
      // usable min/max for timestamp columns, feeding manifest zone maps.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Engine extensions (native function, optimizer rule, row-level SQL
      // rewrites) bind at session construction.
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
