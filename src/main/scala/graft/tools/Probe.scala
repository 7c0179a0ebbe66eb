package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.graftmetrics.ListenerFlush
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{Pipeline, PipelineConfig, SparkEntry}
import graft.io.IcebergishTable

/** The measurement harness (dev tool, not part of the driver contract): one
  * session configuration, three modes.
  *
  *   - `query <name>… [reps]`: per SparkEntry query one warm-up run, then
  *     per rep the wall time with a single-thread control sample taken in
  *     the same window (the host's invisible-steal calibration, see
  *     Bench.controlSec). Prints min, all times and the controls.
  *   - `plan <outDir> <suffix> [name…]`: writes `.explain("formatted")` of
  *     each query (no names: the Bench headline set) to
  *     `<outDir>/<name>_<suffix>.txt`.
  *   - `build <cpus>[,<cpus>…] [reps]`: at each level, in a fresh session,
  *     `reps` builds with Bench's timed-build config over one shared pages
  *     table; per rep it prints the job timeline (see [[timeline]]).
  *
  * Reads `SPARK_GRAFT_SF_DIR` (query, plan), `SPARK_GRAFT_CPUS` (query,
  * plan; default 32) and `SPARK_GRAFT_BENCH_PAGES` (build; default 400000).
  * Every directory it creates is deleted before it returns.
  *
  * usage: runMain graft.tools.Probe <query|plan|build> …
  */
object Probe {

  private val HeadlineQueries: Seq[String] = Seq(
    "q_agg_group", "q_join_broadcast", "q_join_sortmerge", "q_window_topk",
    "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
    "ann_brute_topk", "text_quality", "text_fingerprint",
    "kg_triples", "kg_edges", "q_skew_plain", "q_skew_salted")

  def main(args: Array[String]): Unit = args.toSeq match {
    case "query" +: rest =>
      val (names, reps) = rest.partition(!_.forall(_.isDigit)) match {
        case (ns, Seq(r)) => (ns, r.toInt)
        case (ns, _) => (ns, 5)
      }
      query(names, reps)
    case "plan" +: outDir +: suffix +: names =>
      plan(outDir, suffix, if (names.isEmpty) HeadlineQueries else names)
    case "build" +: levels +: rest =>
      build(levels.split(',').map(_.trim.toInt).toSeq, rest.headOption.fold(2)(_.toInt))
    case _ =>
      System.err.println("usage: Probe query <name>… [reps] | " +
        "plan <outDir> <suffix> [name…] | build <cpus>[,<cpus>…] [reps]")
      sys.exit(2)
  }

  /** Bench's session configuration, copied rather than called (Bench is
    * part of the frozen driver contract).
    */
  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-probe-$cpus")
      .config("spark.sql.shuffle.partitions", (cpus * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir",
        if (Files.isWritable(Paths.get("/dev/shm"))) "/dev/shm/graft-spark-local"
        else System.getProperty("java.io.tmpdir"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Bench's single-threaded control loop (~1 s nominal), copied. */
  private def controlSec(): Double = {
    val t0 = System.nanoTime()
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < 300000000L) { h = graft.synth.Rng.mix64(h + i); i += 1 }
    if (h == 42L) System.err.println("") // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }

  private def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    sys.error("SPARK_GRAFT_SF_DIR must name a scale-factor data directory"))

  private def withQuerySession(body: SparkSession => Unit): Unit = {
    val spark = session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    try body(spark) finally spark.stop()
  }

  private def query(names: Seq[String], reps: Int): Unit = withQuerySession { spark =>
    controlSec() // JIT-warm the control
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => println(s"$name: UNKNOWN")
        case Some(fn) =>
          fn(spark, sfDir).count() // warm: JIT, file listing, broadcast
          val samples = (1 to reps).map { _ =>
            val c0 = controlSec()
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            val sec = (System.nanoTime() - t0) / 1e9
            (sec, math.min(c0, controlSec()))
          }
          println(f"$name%-18s min=${samples.map(_._1).min}%.3f s  all=[" +
            samples.map(s => f"${s._1}%.3f").mkString(",") + "]  ctrl=[" +
            samples.map(s => f"${s._2}%.2f").mkString(",") + "]")
      }
    }
  }

  private def plan(outDir: String, suffix: String, names: Seq[String]): Unit =
    withQuerySession { spark =>
      Files.createDirectories(Paths.get(outDir))
      names.foreach { name =>
        SparkEntry.queries.get(name) match {
          case None => println(s"$name: UNKNOWN")
          case Some(fn) =>
            val text =
              try fn(spark, sfDir).queryExecution.explainString(FormattedMode)
              catch { case e: Throwable => s"EXPLAIN FAILED: $e" }
            val out = Paths.get(outDir, s"${name}_$suffix.txt")
            Files.write(out, text.getBytes(StandardCharsets.UTF_8))
            println(s"wrote $out")
        }
      }
    }

  /** A temp directory on tmpfs when there is one (Bench's output placement:
    * a lone disk would turn the build into a disk benchmark).
    */
  private def scratch(prefix: String): Path = {
    val shm = Paths.get("/dev/shm")
    if (Files.isWritable(shm)) Files.createTempDirectory(shm, prefix)
    else Files.createTempDirectory(prefix)
  }

  private def build(levels: Seq[Int], reps: Int): Unit = {
    val nPages = sys.env.get("SPARK_GRAFT_BENCH_PAGES").fold(400000L)(_.toLong)
    val pagesDir = Files.createTempDirectory("graft-probe-pages")
    try {
      val prep = session(levels.max)
      val pages =
        try Pipeline.buildPagesTable(prep, PipelineConfig(seed = 42L, nPages = nPages,
          partitions = levels.max * 2, outputBuckets = 128, workDir = pagesDir.toString,
          sentMin = 24, sentSpread = 16))
        finally prep.stop()
      levels.foreach { cpus =>
        val spark = session(cpus)
        val recorder = new JobRecorder
        spark.sparkContext.addSparkListener(recorder)
        try (1 to reps).foreach { rep =>
          val out = scratch(s"graft-probe-$cpus-$rep")
          try {
            // The shared pages table is linked in; sentMin/sentSpread match
            // its synthesis config, or the build would rebuild it.
            Files.createSymbolicLink(out.resolve("pages"), Paths.get(pages))
            recorder.clear()
            val t0 = System.currentTimeMillis()
            Pipeline.build(spark, PipelineConfig(seed = 42L, nPages = nPages,
              partitions = math.max(cpus * 2, 16), outputBuckets = 32,
              workDir = out.toString, runId = s"probe-$cpus-$rep",
              sentMin = 24, sentSpread = 16, writeSalt = 4))
            val t1 = System.currentTimeMillis()
            ListenerFlush.flush(spark.sparkContext)
            val (jobs, tasks) = recorder.spans
            println(s"[probe] build cpus=$cpus rep=$rep")
            timeline(t0, t1, cpus, jobs, tasks).lines.foreach(l => println(s"[probe] $l"))
          } finally IcebergishTable.drop(out.toString)
        } finally spark.stop()
      }
    } finally IcebergishTable.drop(pagesDir.toString)
  }

  /** A finished job: wall span (epoch ms), the stages it listed at start. */
  final case class JobSpan(id: Int, start: Long, end: Long, stages: Seq[Int])
  /** A finished task: its stage, launch and finish time (epoch ms) and its
    * executor run time (ms; it excludes scheduling and result handling, so
    * unlike launch-to-finish it never overlaps the slot's next task).
    */
  final case class TaskSpan(stage: Int, launch: Long, finish: Long, runMs: Long)

  /** One job's row: the idle gap before it, its tasks, slot occupancy
    * (run time over span × cpus), task duration p50/p95/max and the tail
    * between its last task's end and its own end (driver-side work).
    */
  final case class JobRow(job: JobSpan, gapMs: Long, tasks: Int, occupancy: Double,
                          p50: Long, p95: Long, max: Long, tailMs: Long)

  /** A build's decomposition: `gapsMs + inJobMs + endTailMs == totalMs`
    * when every job lies inside the window. `inJobMs` is the time at least
    * one job runs; `idleMs` is the part of it the tasks leave unused
    * (in-job time minus run time / cpus).
    */
  final case class Timeline(totalMs: Long, jobs: Seq[JobRow], gapsMs: Long,
                            inJobMs: Long, idleMs: Double, endTailMs: Long) {
    def lines: Seq[String] =
      f"total=${totalMs / 1e3}%.2f s jobs=${jobs.size}" +: jobs.map { r =>
        f"  gap=${r.gapMs}%5d ms | job ${r.job.id}%3d ${r.job.end - r.job.start}%6d ms " +
          f"tasks=${r.tasks}%4d occ=${r.occupancy * 100}%5.1f%% p50=${r.p50}%4d " +
          f"p95=${r.p95}%5d max=${r.max}%5d tail=${r.tailMs}%5d ms stages=${r.job.stages.mkString(",")}"
      } :+ f"  gaps=${gapsMs / 1e3}%.2f s in-job=${inJobMs / 1e3}%.2f s " +
        f"in-job-idle=${idleMs / 1e3}%.2f s tail=${endTailMs / 1e3}%.2f s"
  }

  /** The timeline of the window [t0, t1] run on `cpus` slots. A task
    * belongs to the job that first listed its stage (jobs that reuse a
    * finished stage list it as skipped), so a job still running when a
    * later one starts keeps its own tasks.
    */
  def timeline(t0: Long, t1: Long, cpus: Int, jobs: Seq[JobSpan],
               tasks: Seq[TaskSpan]): Timeline = {
    val owner = mutable.Map.empty[Int, Int]
    jobs.sortBy(_.id).foreach(j => j.stages.foreach(s => owner.getOrElseUpdate(s, j.id)))
    val byJob = tasks.filter(t => owner.contains(t.stage)).groupBy(t => owner(t.stage))
    var cursor = t0
    var inJob = 0L
    val rows = jobs.sortBy(j => (j.start, j.id)).map { j =>
      val gap = math.max(0L, j.start - cursor)
      inJob += math.max(0L, j.end - math.max(j.start, cursor))
      cursor = math.max(cursor, j.end)
      val ts = byJob.getOrElse(j.id, Seq.empty)
      val durs = ts.map(t => t.finish - t.launch).sorted
      def pct(p: Int): Long = if (durs.isEmpty) 0L else durs(math.min(durs.size * p / 100, durs.size - 1))
      val span = j.end - j.start
      JobRow(j, gap, ts.size, if (span > 0) ts.map(_.runMs).sum.toDouble / (span * cpus) else 1.0,
        pct(50), pct(95), durs.lastOption.getOrElse(0L),
        if (ts.isEmpty) 0L else math.max(0L, j.end - ts.map(_.finish).max))
    }
    val busy = byJob.values.flatten.map(_.runMs).sum
    Timeline(t1 - t0, rows, rows.map(_.gapMs).sum, inJob,
      math.max(0.0, inJob - busy.toDouble / cpus), math.max(0L, t1 - cursor))
  }

  /** Records every finished job's span and stages and every finished task. */
  final class JobRecorder extends SparkListener {
    private val open = mutable.Map.empty[Int, SparkListenerJobStart]
    private val jobs = mutable.ArrayBuffer.empty[JobSpan]
    private val tasks = mutable.ArrayBuffer.empty[TaskSpan]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { open(e.jobId) = e }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.remove(e.jobId).foreach(s => jobs += JobSpan(e.jobId, s.time, e.time, s.stageIds))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += TaskSpan(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        Option(e.taskMetrics).fold(0L)(_.executorRunTime))
    }

    def clear(): Unit = synchronized { open.clear(); jobs.clear(); tasks.clear() }
    def spans: (Seq[JobSpan], Seq[TaskSpan]) = synchronized((jobs.toSeq, tasks.toSeq))
  }
}
