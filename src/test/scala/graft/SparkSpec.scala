package graft

import org.apache.spark.sql.SparkSession
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
}

object SparkSpec {
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
