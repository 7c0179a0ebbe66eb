package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Minimal JSON writer for the raw run record (numbers, strings, nesting). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def nums(xs: Iterable[Double]): String = arr(xs.map(num))
}

/** Wall clock on the listener's time base (epoch milliseconds), with the
  * resolution of `System.nanoTime`.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** In-memory span recorder. Spans are opened and closed on the caller's
  * thread only (the workloads have a single caller); the open span's id is
  * published as a Spark local property so that the listener can attribute
  * every job to the span that submitted it.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  final case class Span(id: Int, parent: Int, trace: Int, name: String,
                        start: Double, var end: Double,
                        attrs: scala.collection.mutable.Map[String, Double])

  val SpanProp = "perfbench.span"
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  private var traceId = 0

  /** Start a new trace: spans opened from now on share its id. */
  def newTrace(): Unit = traceId += 1

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1),
        traceId, name, Clock.ms(), Double.NaN,
        scala.collection.mutable.Map.empty)
      spans += s
      open = s :: open
      sc.setLocalProperty(SpanProp, s.id.toString)
      try f
      finally {
        s.end = Clock.ms()
        open = open.tail
        sc.setLocalProperty(SpanProp,
          open.headOption.map(_.id.toString).orNull)
      }
    }

  /** Attach a counter to the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled) open.headOption.foreach(_.attrs(key) = v)

  def toJson: String = Json.arr(spans.map { s =>
    Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
      "trace" -> s.trace.toString, "name" -> Json.str(s.name),
      "start" -> Json.num(s.start), "end" -> Json.num(s.end),
      "attrs" -> Json.obj(s.attrs.map { case (k, v) => k -> Json.num(v) })))
  })
}

/** Job, stage and task events of the whole run, kept in memory. */
final class JobRecorder extends SparkListener {
  private final case class Job(id: Int, span: Int, start: Double,
                               var end: Double, stages: Seq[Int])
  private final class Stage(val id: Int) {
    var job = -1
    var name = ""
    var tasks = 0
    var taskMs = ArrayBuffer.empty[Double]
    var runMs, cpuNs, gcMs = 0L
    var shufWriteBytes, shufWriteRecords, shufReadBytes, shufReadRecords = 0L
    var spillBytes = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private def stage(id: Int) = stages.computeIfAbsent(id, i => new Stage(i))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty("perfbench.span"))).map(_.toInt).getOrElse(-1)
    jobs.put(e.jobId, Job(e.jobId, span, e.time.toDouble, Double.NaN,
      e.stageIds))
    e.stageIds.foreach(s => stage(s).job = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = stage(e.stageId).synchronized {
    val s = stage(e.stageId)
    s.tasks += 1
    s.taskMs += e.taskInfo.duration.toDouble
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shufWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shufWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.shufReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shufReadRecords += m.shuffleReadMetrics.recordsRead
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stage(e.stageInfo.stageId).name = e.stageInfo.name

  def toJson: String = {
    val js = jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Json.obj(Seq("id" -> j.id.toString, "span" -> j.span.toString,
        "start" -> Json.num(j.start), "end" -> Json.num(j.end),
        "stages" -> Json.arr(j.stages.map(_.toString))))
    }
    val ss = stages.values.asScala.toSeq.sortBy(_.id).map { s =>
      s.synchronized {
        Json.obj(Seq("id" -> s.id.toString, "job" -> s.job.toString,
          "name" -> Json.str(s.name), "tasks" -> s.tasks.toString,
          "task_ms" -> Json.nums(s.taskMs), "run_ms" -> s.runMs.toString,
          "cpu_ns" -> s.cpuNs.toString, "gc_ms" -> s.gcMs.toString,
          "shuffle_write_bytes" -> s.shufWriteBytes.toString,
          "shuffle_write_records" -> s.shufWriteRecords.toString,
          "shuffle_read_bytes" -> s.shufReadBytes.toString,
          "shuffle_read_records" -> s.shufReadRecords.toString,
          "spill_bytes" -> s.spillBytes.toString))
      }
    }
    Json.obj(Seq("jobs" -> Json.arr(js), "stages" -> Json.arr(ss)))
  }
}

/** Progress of every streaming micro-batch (`durationMs` and row counts). */
final class StreamRecorder extends StreamingQueryListener {
  private val progress = ArrayBuffer.empty[String]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toString }
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    synchronized {
      progress += Json.obj(Seq("run" -> Json.str(p.runId.toString),
        "batch" -> p.batchId.toString, "start" -> Json.num(start),
        "input_rows" -> p.numInputRows.toString,
        "duration_ms" -> Json.obj(d)))
    }
  }
  def toJson: String = synchronized(Json.arr(progress))
}
