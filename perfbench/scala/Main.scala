package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Page, Pipeline, PipelineConfig, SparkEntry}
import graft.canon.ConnectedComponents
import graft.extract.HtmlText
import graft.functions.HtmlExtractExpr.html_extract
import graft.io.{IcebergishTable, RootCommit}
import graft.link.{AliasTrie, Mentions}
import graft.materialize.{Checkpoint, GraphOut}
import graft.streaming.StreamingKg
import graft.synth.PageSynth
import graft.triples.TripleExtract

/** One benchmark run of one workload in this JVM: set-up, a closed loop of
  * operations for `--seconds`, then correctness checks outside the timed
  * window. Writes the raw record (timings, checks, and with `--trace 1` the
  * spans, jobs, stages and streaming progress) as one JSON object to
  * `--out`; `perfbench/run.py` turns it into metrics.
  *
  * Usage: Main --workload <kg_build|kg_incremental> --seed <n>
  *             --seconds <s> --trace <0|1> --work <dir> --out <file>
  */
object Main {
  val Slots = 4
  val Buckets = 16
  val SentMin = 24
  val SentSpread = 16
  /** kg_build: pages per build. */
  val BuildPages = 3000L
  /** kg_incremental: pages in the base table and per landed batch, and the
    * batches synthesized up front (the loop also ends when they run out). */
  val BasePages = 1000L
  val BatchPages = 500L
  val MaxBatches = 9
  /** Set-up repetitions whose median is reported as the input set-up time. */
  val SetupReps = 3
  /** SparkEntry.queries of the traced query-layer pass: plain SQL operators,
    * ops.Dedup, ops.TextAnalysis and ops.Ann (IVF). kg_spj is left out: the
    * session's `graft_q` catalog keeps the warehouse of its first call, so
    * repeated calls read stale tables.
    */
  val QueryList = Seq(
    "q_join_sortmerge", "dedup_exact", "dedup_minhash_lsh", "text_quality",
    "ann_ivf_topk")

  final case class Op(wall: Double, rows: Long, pages: Long)

  /** Everything one run records; serialized by [[toJson]]. */
  final class Run(val workload: String, val seed: Long) {
    var sessionS = 0.0
    val inputS = ArrayBuffer.empty[Double]
    var warmupS = 0.0
    val ops = ArrayBuffer.empty[Op]
    var loopWall = 0.0
    var checkS = 0.0
    val checks = ArrayBuffer.empty[(String, Boolean, String)]
    val failures = ArrayBuffer.empty[String]
    val quality = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val untracedS = ArrayBuffer.empty[Double]
    var trace: Option[String] = None

    def check(name: String, ok: Boolean, detail: String): Unit = {
      checks += ((name, ok, detail))
      if (!ok) failures += s"check $name failed: $detail"
    }
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, secs(t0))
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
        val s = Files.list(p)
        try s.iterator().asScala.toList.foreach(deleteTree) finally s.close()
      }
      Files.delete(p)
    }

  def dirBytes(p: Path, pred: Path => Boolean): (Long, Long) = {
    if (!Files.exists(p)) return (0L, 0L)
    val s = Files.walk(p)
    try s.iterator().asScala.filter(f => Files.isRegularFile(f) && pred(f))
      .foldLeft((0L, 0L)) { case ((n, b), f) => (n + 1, b + Files.size(f)) }
    finally s.close()
  }
  def isData(f: Path) = f.getFileName.toString.endsWith(".parquet")

  def session(localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Slots]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", (Slots * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.hadoop.hadoop.tmp.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work"))
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(work)
    val spark = session(work.resolve("spark-local").toString)
    val run = new Run(workload, seed)
    run.sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val sc = spark.sparkContext
    val jobs = new JobRecorder
    val streams = new StreamRecorder
    if (traced) {
      sc.addSparkListener(jobs)
      spark.streams.addListener(streams)
    }
    val tracer = new Tracer(traced, sc)
    try {
      workload match {
        case "kg_build" => new KgBuild(spark, run, tracer, jobs, work, seconds).apply()
        case "kg_incremental" => new KgIncremental(spark, run, tracer, work, seconds).apply()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        run.failures += s"run aborted: ${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
    }
    if (traced) {
      org.apache.spark.graftmetrics.ListenerFlush.flush(sc)
      run.trace = Some(Json.obj(Seq("spans" -> tracer.toJson,
        "listener" -> jobs.toJson, "stream_progress" -> streams.toJson)))
    }
    val rssKb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    Files.write(Paths.get(opts("out")), toJson(run, rssKb).getBytes("UTF-8"))
    spark.stop()
  }

  def toJson(r: Run, rssKb: Double): String = Json.obj(Seq(
    "workload" -> Json.str(r.workload), "seed" -> r.seed.toString,
    "session_s" -> Json.num(r.sessionS), "input_s" -> Json.nums(r.inputS),
    "warmup_s" -> Json.num(r.warmupS),
    "ops" -> Json.arr(r.ops.map(o => Json.obj(Seq("wall_s" -> Json.num(o.wall),
      "rows" -> o.rows.toString, "pages" -> o.pages.toString)))),
    "loop_wall_s" -> Json.num(r.loopWall), "check_s" -> Json.num(r.checkS),
    "untraced_s" -> Json.nums(r.untracedS),
    "checks" -> Json.arr(r.checks.map { case (n, ok, d) =>
      Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString,
        "detail" -> Json.str(d)))
    }),
    "failures" -> Json.arr(r.failures.map(Json.str)),
    "quality" -> Json.obj(r.quality.map { case (k, v) => k -> Json.num(v) }),
    "layer" -> Json.obj(r.layer.map { case (k, v) => k -> Json.num(v) }),
    "peak_rss_kb" -> Json.num(rssKb),
    "trace" -> r.trace.getOrElse("null")))

  /** Rows of `got`, distinct (subj, pred, obj, url) keys on each side, and
    * keys on both sides. */
  final case class Overlap(gotRows: Long, got: Long, want: Long, both: Long) {
    def precision: Double = if (got == 0) 0.0 else both.toDouble / got
    def recall: Double = if (want == 0) 0.0 else both.toDouble / want
  }

  def overlap(got: DataFrame, want: DataFrame): Overlap = {
    val key = Seq("subj", "pred", "obj", "url")
    val g = got.groupBy(key.map(col): _*).agg(count(lit(1)).as("g"))
    val w = want.select(key.map(col): _*).distinct().withColumn("w", lit(1L))
    val r = g.join(w, key, "full_outer").agg(
      coalesce(sum(col("g")), lit(0L)), count(col("g")), count(col("w")),
      count(when(col("g").isNotNull && col("w").isNotNull, 1))).head()
    Overlap(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** Triple precision and recall against the golden set, checked >= 0.95. */
  def checkGolden(run: Run, o: Overlap): Unit = {
    run.quality("triple_precision") = o.precision
    run.quality("triple_recall") = o.recall
    run.check("triple_precision", o.precision >= 0.95, f"${o.precision}%.6f")
    run.check("triple_recall", o.recall >= 0.95, f"${o.recall}%.6f")
  }

  /** Byte identity of the extracted text on every page. */
  def checkText(run: Run, pages: DataFrame): Unit = {
    val tf = textExactFrac(pages)
    run.quality("text_exact_frac") = tf
    run.check("text_exact", tf == 1.0, f"$tf%.6f")
  }

  /** Share of pages whose extracted text equals the synthesized text. */
  def textExactFrac(pages: DataFrame): Double = {
    val r = pages.agg(count(lit(1)),
      sum(when(html_extract(col("html")) === col("text"), 1L).otherwise(0L)))
      .head()
    if (r.getLong(0) == 0) 0.0 else r.getLong(1).toDouble / r.getLong(0)
  }

  def canonMap(spark: SparkSession): Map[String, String] =
    ConnectedComponents.componentsSized(PageSynth.sameAs(spark).toDF("src", "dst"))._1
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
}

import Main._

/** `kg_build`: one `Pipeline.build` over a pre-built pages table per
  * operation. The traced run alternates untraced builds with a step-by-step
  * replay of `Pipeline.build` through the same public calls, with a span
  * around each call.
  */
final class KgBuild(spark: SparkSession, run: Run, tracer: Tracer,
                    jobs: JobRecorder, work: Path, seconds: Double) {
  private val sc = spark.sparkContext
  private def cfg(dir: Path, runId: String) = PipelineConfig(
    seed = run.seed, nPages = BuildPages, partitions = Slots * 2,
    outputBuckets = Buckets, workDir = dir.toString, runId = runId,
    sentMin = SentMin, sentSpread = SentSpread, writeSalt = 0)

  private def opDir(name: String): Path = {
    val d = work.resolve(name)
    Files.createDirectories(d)
    Files.createSymbolicLink(d.resolve("pages"), work.resolve("input/pages"))
    d
  }

  /** Per-bucket (fingerprint, rows) of a stage's ack rows. */
  private def acks(dir: Path, stage: String): Map[Int, (String, Long)] =
    Checkpoint.readRows(dir.resolve("checkpoint").toString)
      .filter(r => r.stage == stage && r.status == "done")
      .map(r => r.part -> (r.input_fingerprint, r.rows_out)).toMap

  /** `Pipeline.build`, step by step, one span per call. */
  def replay(c: PipelineConfig): Long = tracer.span("pipeline.build") {
    Pipeline.validate(c)
    val table = tracer.span("io.pages_table")(Pipeline.buildPagesTable(spark, c))
    val pages = tracer.span("io.read_pages")(Pipeline.readPagesForExtraction(spark, table))
    val aliasDict = PageSynth.aliasDictionary
    val phrases = PageSynth.relations.toMap
    val (canonDf, fitsDriver, canon) = tracer.span("canon.cc") {
      val (df, fits) = ConnectedComponents.componentsSized(
        PageSynth.sameAs(spark).toDF("src", "dst"),
        localThreshold = c.ccLocalThreshold)
      val m = if (fits) df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
        else Map.empty[String, String]
      tracer.count("local", if (fits) 1 else 0)
      (df, fits, m)
    }
    val ckpt = s"${c.workDir}/checkpoint"
    val edgesTable = s"${c.workDir}/edges"
    val inputTag = s"snap-${IcebergishTable.currentSnapshot(table)}"
    val raw = tracer.span("triples.plan") {
      if (fitsDriver) TripleExtract.extractDirect(pages, aliasDict, phrases, canon)
      else TripleExtract.canonicalize(
        TripleExtract.extractDirect(pages, aliasDict, phrases),
        canonDf, assumeSmall = false, dedup = false)
    }
    val salt = tracer.span("materialize.auto_salt") {
      val s = if (c.writeSalt == 0) Pipeline.autoSalt(pages, aliasDict, phrases,
        canon, c.outputBuckets, canonDf = if (fitsDriver) None else Some(canonDf))
        else c.writeSalt
      tracer.count("salt", s)
      s
    }
    val edges = tracer.span("materialize.edges") {
      val st = GraphOut.writeBucketedDedup(raw.toDF, edgesTable, "subj",
        c.outputBuckets, Seq("subj", "pred", "obj", "url"), ckpt, c.runId,
        "edges", inputTag = inputTag, skewSalt = salt)
      tracer.count("rows", st.rowsWritten)
      st
    }
    tracer.span("materialize.vertices") {
      val e = tracer.span("io.table_read")(IcebergishTable.read(spark, edgesTable))
      val st = GraphOut.writeVerticesBucketed(e, s"${c.workDir}/vertices",
        c.outputBuckets, ckpt, c.runId, "vertices", inputTag = inputTag)
      tracer.count("rows", st.rowsWritten)
    }
    tracer.span("io.root_commit") {
      RootCommit.commit(c.workDir, Map(
        "pages" -> IcebergishTable.currentSnapshot(table),
        "edges" -> IcebergishTable.currentSnapshot(edgesTable),
        "vertices" -> IcebergishTable.currentSnapshot(s"${c.workDir}/vertices")))
    }
    edges.rowsWritten
  }

  /** On-disk counters of a finished build directory. */
  private def diskCounters(dir: Path, rows: Long): Unit = {
    val edges = dir.resolve("edges")
    val (ef, eb) = dirBytes(edges, isData)
    val (vf, _) = dirBytes(dir.resolve("vertices"), isData)
    val snap = IcebergishTable.currentSnapshot(edges.toString)
    run.layer("materialize.edges_files") = ef.toDouble
    run.layer("materialize.vertices_files") = vf.toDouble
    run.layer("io.snapshots") = snap + 1.0
    run.layer("io.manifest_bytes") = Files.size(edges.resolve(s"snap-$snap.json")).toDouble
    run.layer("io.data_files") = (ef + vf).toDouble
    run.layer("io.bytes_written_per_triple") = if (rows > 0) eb.toDouble / rows else 0.0
  }

  /** Single-thread cost of the per-page layers on a fixed page sample. */
  private def layerSample(): Unit = tracer.span("layer.sample") {
    val sample = (0L until 200L).map(i => PageSynth.page(run.seed, i, SentMin, SentSpread))
    val trie = AliasTrie.build(PageSynth.aliasDictionary.map(_.alias).distinct)
    val winners = Mentions.aliasWinners(PageSynth.aliasDictionary)
    val phrases = PageSynth.relations.toMap
    val n = sample.size.toDouble
    def us(f: => Unit): Double = Main.median((1 to 7).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e3 / n
    })
    var texts = Seq.empty[String]
    run.layer("extract.us_per_page") = us { texts = sample.map(p => HtmlText.extract(p.html)) }
    var ms = Seq.empty[Seq[graft.Mention]]
    run.layer("link.scan_us_per_page") =
      us { ms = sample.zip(texts).map { case (p, t) => Mentions.scanText(p.url, t, trie) } }
    var linked = Seq.empty[Seq[graft.LinkedMention]]
    run.layer("link.link_us_per_page") = us { linked = ms.map(Mentions.linkLocal(_, winners)) }
    var cands = Seq.empty[Seq[graft.triples.RelCandidate]]
    run.layer("triples.cands_us_per_page") = us {
      cands = sample.zip(texts).zip(ms).map { case ((p, t), m) =>
        TripleExtract.allCandidates(p.url, t, m, phrases) }
    }
    val nMentions = ms.map(_.size).sum.toDouble
    run.layer("extract.chars_per_page") = texts.map(_.length).sum / n
    run.layer("link.mentions_per_page") = nMentions / n
    run.layer("link.linked_frac") = if (nMentions > 0) linked.map(_.size).sum / nMentions else 0.0
    run.layer("triples.cands_per_page") = cands.map(_.size).sum / n
  }

  def apply(): Unit = {
    // Set-up: the pages table, built SetupReps times; the last one is kept.
    (0 until SetupReps).foreach { i =>
      val d = work.resolve(if (i == SetupReps - 1) "input" else s"input-$i")
      run.inputS += time(Pipeline.buildPagesTable(spark, cfg(d, "input")))._2
      if (i < SetupReps - 1) deleteTree(d)
    }
    run.warmupS = time {
      val d = opDir("warmup")
      Pipeline.build(spark, cfg(d, "warmup"))
      deleteTree(d)
    }._2
    if (tracer.enabled) layerSample()
    var k = 0
    var kept: Option[Path] = None
    var reference: Option[Map[Int, (String, Long)]] = None
    val t0 = System.nanoTime()
    // At least three builds: the first after the warm-up still runs partly
    // unoptimized code, and the median of three leaves it out. A traced run
    // makes three of each kind.
    while (secs(t0) < seconds || k < (if (tracer.enabled) 6 else 3)) {
      val d = opDir(s"op-$k")
      // Traced runs interleave untraced builds (the reference for the
      // replay's fingerprints and for the tracing overhead) and replays in
      // the order U R R U U R, so that neither kind runs later on average.
      val replayOp = tracer.enabled && (k % 4 == 1 || k % 4 == 2)
      try {
        val (rows, wall) =
          if (replayOp) { tracer.newTrace(); time(replay(cfg(d, s"op-$k"))) }
          else if (!tracer.enabled) time(Pipeline.build(spark, cfg(d, s"op-$k")))
          else {
            sc.removeSparkListener(jobs)
            try time(Pipeline.build(spark, cfg(d, s"op-$k")))
            finally sc.addSparkListener(jobs)
          }
        if (tracer.enabled && !replayOp) run.untracedS += wall
        else run.ops += Op(wall, rows, BuildPages)
        if (tracer.enabled) {
          val a = acks(d, "edges") ++ acks(d, "vertices").map { case (p, v) => (p + 1000) -> v }
          reference match {
            case None if !replayOp => reference = Some(a)
            case Some(ref) if replayOp =>
              run.check(s"replay_fingerprints_op$k", a == ref,
                s"${a.size} buckets vs ${ref.size} in the untraced build")
            case _ =>
          }
          if (replayOp) diskCounters(d, rows)
        }
      } catch {
        case e: Exception =>
          run.ops += Op(Double.NaN, -1L, BuildPages)
          run.failures += s"build op-$k: ${e.getClass.getName}: ${e.getMessage}"
      }
      kept.foreach(deleteTree)
      kept = Some(d)
      k += 1
    }
    run.loopWall = secs(t0)

    run.checkS = time(kept.foreach { d =>
      val edges = IcebergishTable.read(spark, d.resolve("edges").toString)
      val golden = PageSynth.goldenTriples(spark, run.seed, BuildPages,
        Slots * 2, SentMin, SentSpread).toDF
      checkGolden(run, overlap(edges, golden))
      checkText(run, IcebergishTable.read(spark, work.resolve("input/pages").toString))
      deleteTree(d)
    })._2
    if (tracer.enabled) {
      run.check("replay_compared",
        run.checks.exists(_._1.startsWith("replay_fingerprints")), "")
      new QueryLayer(spark, run, tracer, work).apply()
    }
  }
}

/** `kg_incremental`: per operation, a new batch of page files lands in the
  * stream's source directory and one `StreamingKg.buildIncrementalBucketed`
  * call appends it; every 4th operation also re-delivers the previous
  * batch's files under new names.
  */
final class KgIncremental(spark: SparkSession, run: Run, tracer: Tracer,
                          work: Path, seconds: Double) {
  import spark.implicits._

  /** One stream checkpoint and one table for the table's whole life: the
    * append acks are keyed by the stream's batch id. */
  private var base = work.resolve("inc")
  private def staged = base.resolve("staged")
  private def src = base.resolve("source")
  private def table = base.resolve("kg/edges").toString
  private def ckpt = base.resolve("kg/checkpoint").toString

  /** Synthesizes pages [0, BasePages + MaxBatches * BatchPages) into one
    * parquet file per chunk (chunk 0 = base), under `staged/chunk=<k>/`.
    */
  private def synthesize(): Unit = {
    val n = BasePages + MaxBatches * BatchPages
    PageSynth.pages(spark, run.seed, n, Slots * 2, SentMin, SentSpread).toDF
      .withColumn("id", regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long"))
      .withColumn("chunk", when(col("id") < BasePages, 0)
        .otherwise(((col("id") - BasePages) / BatchPages).cast("int") + 1))
      .drop("id")
      .repartition(col("chunk"))
      .write.partitionBy("chunk").parquet(staged.toString)
  }

  private def chunkFiles(k: Int): Seq[Path] = {
    val s = Files.list(staged.resolve(s"chunk=$k"))
    try s.iterator().asScala.filter(isData).toList.sorted finally s.close()
  }

  /** Moves chunk `k`'s files into the source directory. */
  private def land(k: Int): Seq[Path] = chunkFiles(k).zipWithIndex.map { case (f, i) =>
    Files.move(f, src.resolve(f"batch-$k%03d-$i.parquet"), StandardCopyOption.ATOMIC_MOVE)
  }

  private def call(canon: Map[String, String]): Unit =
    StreamingKg.buildIncrementalBucketed(spark, src.toString, table, ckpt,
      canon, numParts = Buckets)

  def apply(): Unit = {
    var canon = Map.empty[String, String]
    val landed = ArrayBuffer.empty[Path]
    // Set-up: synthesize the page files and build the base table from
    // chunk 0, SetupReps times; the last one is kept.
    (0 until SetupReps).foreach { i =>
      base = work.resolve(if (i == SetupReps - 1) "inc" else s"setup-$i")
      run.inputS += time {
        synthesize()
        canon = canonMap(spark)
        Files.createDirectories(src)
        landed.clear()
        landed ++= land(0)
        call(canon)
      }._2
      if (i < SetupReps - 1) deleteTree(base)
    }
    run.warmupS = time {
      landed ++= land(1)
      call(canon)
    }._2
    var k = 2
    val t0 = System.nanoTime()
    // Whole cycles of four calls, so every run delivers the same share of
    // duplicate pages.
    while ((secs(t0) < seconds || run.ops.size % 4 != 0) && k <= MaxBatches) {
      val fresh = land(k)
      landed ++= fresh
      val redeliver = (k - 1) % 4 == 3
      val dups =
        if (!redeliver) Nil
        else landed.filter(_.getFileName.toString.startsWith(f"batch-${k - 1}%03d-"))
          .zipWithIndex.map { case (f, i) =>
            Files.copy(f, src.resolve(f"redeliver-${k - 1}%03d-$i.parquet"))
          }.toSeq
      val pages = BatchPages * (if (redeliver) 2 else 1)
      tracer.newTrace()
      try {
        val (_, wall) = time(tracer.span("streaming.call")(call(canon)))
        run.ops += Op(wall, 0L, pages)
        if (tracer.enabled) traceCounters(fresh ++ dups, canon)
      } catch {
        case e: Exception =>
          run.ops += Op(Double.NaN, -1L, pages)
          run.failures += s"batch $k: ${e.getClass.getName}: ${e.getMessage}"
      }
      k += 1
    }
    run.loopWall = secs(t0)
    run.checkS = time(checks(landed.toSeq, canon))._2
  }

  private def readPages(files: Seq[Path]): DataFrame =
    spark.read.parquet(files.map(_.toString): _*)

  /** Traced runs: the table as the call leaves it, and the share of the
    * delivered pages' triples the cross-batch anti-join dropped.
    */
  private def traceCounters(delivered: Seq[Path], canon: Map[String, String]): Unit = {
    val readS = time(tracer.span("io.table_read")(IcebergishTable.read(spark, table)))._2
    val snap = IcebergishTable.currentSnapshot(table)
    val acked = Checkpoint.readRows(s"$table-acks")
      .filter(r => r.status == "done" && r.stage == "append")
    val lastRows = acked.lastOption.map(_.rows_out).getOrElse(0L)
    val emitted = TripleExtract.extractDirect(
      readPages(delivered).select(col("url"), col("warc_ts"), col("html"),
        html_extract(col("html")).as("text"), col("lang")).as[Page],
      PageSynth.aliasDictionary, PageSynth.relations.toMap, canon)
      .select("subj", "pred", "obj", "url").distinct().count()
    val (files, bytes) = dirBytes(Paths.get(table), isData)
    val rows = acked.map(_.rows_out).sum
    val l = run.layer
    def add(key: String, v: Double): Unit = l(key) = l.getOrElse(key, 0.0) + v
    add("io.table_read_s", readS)
    add("streaming.rows_per_batch", lastRows.toDouble)
    add("streaming.dup_drop_frac", if (emitted > 0) 1.0 - lastRows.toDouble / emitted else 0.0)
    add("traced_calls", 1.0)
    l("io.snapshots") = snap + 1.0
    l("io.manifest_bytes") = Files.size(Paths.get(table, s"snap-$snap.json")).toDouble
    l("io.data_files") = files.toDouble
    l("io.bytes_written_per_triple") = if (rows > 0) bytes.toDouble / rows else 0.0
  }

  private def checks(landed: Seq[Path], canon: Map[String, String]): Unit = {
    val unique = landed.filterNot(_.getFileName.toString.startsWith("redeliver-"))
    val pages = readPages(unique)
    val got = IcebergishTable.read(spark, table)
    val batch = TripleExtract.extractDirect(
      pages.select(col("url"), col("warc_ts"), col("html"),
        html_extract(col("html")).as("text"), col("lang")).as[Page],
      PageSynth.aliasDictionary, PageSynth.relations.toMap, canon).toDF
    val o = overlap(got, batch)
    run.check("no_duplicate_rows", o.gotRows == o.got, s"${o.gotRows} rows, ${o.got} distinct")
    run.check("converges_to_batch", o.both == o.got && o.both == o.want,
      s"${o.got - o.both} rows not in the batch extraction, ${o.want - o.both} missing")
    val golden = PageSynth.goldenTriples(spark, run.seed, pages.count(), Slots * 2,
      SentMin, SentSpread).toDF
    checkGolden(run, overlap(got, golden))
    checkText(run, pages)
  }
}

/** The query layer, measured in traced kg_build runs: seeded tables, one
  * warm-up pass and then one pass with a span around each
  * `SparkEntry.queries` call in [[Main.QueryList]], each forced with
  * `.count()`. Row counts are checked against the tables.
  */
final class QueryLayer(spark: SparkSession, run: Run, tracer: Tracer, work: Path) {
  private def pass(dir: String, traced: Boolean): Map[String, Long] =
    QueryList.map { name =>
      val fn = SparkEntry.queries(name)
      name -> (try {
        if (traced) tracer.span(s"query.$name")(fn(spark, dir).count())
        else fn(spark, dir).count()
      } catch {
        case e: Exception =>
          run.failures += s"query $name: ${e.getClass.getName}: ${e.getMessage}"
          -1L
      })
    }.toMap

  def apply(): Unit = {
    val dir = work.resolve("tables").toString
    QueryData.write(spark, run.seed, dir, Slots * 2)
    val warm = pass(dir, traced = false)
    tracer.newTrace()
    val rows = pass(dir, traced = true)
    val expected = QueryData.expectedCounts(spark, dir) + ("ann_ivf_topk" -> 10L)
    QueryList.foreach { name =>
      run.check(s"rows_stable_$name", rows(name) >= 0 && rows(name) == warm(name),
        s"${warm(name)} then ${rows(name)}")
      expected.get(name).foreach(e =>
        run.check(s"rows_$name", rows(name) == e, s"${rows(name)} rows, expected $e"))
    }
  }
}
