package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.IcebergishTable
import graft.materialize.GraphOut
import graft.synth.PageSynth

/** North_rule skew case THROUGH the real pipeline: a hub entity planted as
  * the subject of 50% of fact sentences, so half the edge table lands in
  * one output bucket. Write-side salting must split that bucket across
  * tasks without changing results, plan shape (one exchange), or golden
  * P/R.
  */
class SkewPipelineSpec extends SparkSpec {

  private def tmpDir(p: String): String = specDir(p).toString

  test("hub pipeline: salted write == unsalted write, golden P/R exact, hub bucket splits") {
    import spark.implicits._
    def build(salt: Int): String = {
      val dir = tmpDir(s"graft-hub-$salt")
      Pipeline.build(spark, PipelineConfig(seed = 13L, nPages = 400L,
        partitions = 4, outputBuckets = 8, workDir = dir, runId = s"h$salt",
        hubShare = 0.5, writeSalt = salt))
      dir
    }
    def edges(dir: String): Set[(String, String, String, String)] =
      IcebergishTable.read(spark, s"$dir/edges")
        .select("subj", "pred", "obj", "url")
        .as[(String, String, String, String)].collect().toSet

    val d1 = build(1)
    val d4 = build(4)
    val e1 = edges(d1)
    val e4 = edges(d4)
    assert(e1 == e4, "salting changed the edge table")

    // The hub really dominates: entity 0's canonical id subjects ≥ 30%.
    val hubSubj = PageSynth.entityId(0)
    val hubRows = e1.count(_._1 == hubSubj)
    assert(hubRows.toDouble / e1.size >= 0.3,
      s"hub share too small: $hubRows/${e1.size}")

    // Golden P/R stays exact under the hub synthesis mode.
    val golden = PageSynth.goldenTriples(spark, 13L, 400L, 4, hubShare = 0.5)
      .map(t => (t.subj, t.pred, t.obj)).collect().toSet
    assert(e1.map(t => (t._1, t._2, t._3)) == golden)

    // The hub bucket physically split: >1 file under its part dir at salt=4.
    val hubPart = Seq(hubSubj).toDF("k")
      .select(IcebergishTable.partExpr("k", 8)).head().getInt(0)
    def filesIn(dir: String, part: Int): Int = {
      val d = java.nio.file.Paths.get(s"$dir/edges/data/part=$part")
      val s = java.nio.file.Files.list(d)
      try s.filter(_.toString.endsWith(".parquet")).count().toInt
      finally s.close()
    }
    assert(filesIn(d1, hubPart) == 1)
    assert(filesIn(d4, hubPart) > 1,
      "salt=4 should split the hub bucket across writer tasks")
  }

  test("ALIGNED split plan: one exchange, one bucket per task, only the hub splits") {
    import spark.implicits._
    val nParts = 8
    val maxSplit = 4
    val df = spark.range(0, 10000)
      .select(
        when(col("id") % 2 === 0, lit("HUB"))
          .otherwise(concat(lit("s"), col("id") % 500)).as("subj"),
        lit("p").as("pred"), concat(lit("o"), col("id")).as("obj"),
        concat(lit("u"), col("id")).as("url"), lit(1.0).as("conf"))
      .withColumn(IcebergishTable.PartCol, IcebergishTable.partExpr("subj", nParts))
    val aligned = GraphOut.bucketedDedupPlanAlignedSalted(
      df, nParts, Seq("subj", "pred", "obj", "url"), maxSplit)
    val plan = aligned.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1, plan)

    // Result identical to the plain aligned plan's distinct set.
    val plain = GraphOut.bucketedDedupPlanAligned(df, nParts, "subj",
      Seq("subj", "pred", "obj", "url"))
    assert(aligned.select("subj", "obj").as[(String, String)].collect().toSet ==
      plain.select("subj", "obj").as[(String, String)].collect().toSet)

    // Every task holds exactly one bucket.
    val byTask = aligned
      .groupBy(spark_partition_id().as("pid"), col(IcebergishTable.PartCol))
      .count().as[(Int, Int, Long)].collect()
    byTask.groupBy(_._1).foreach { case (pid, rows) =>
      assert(rows.length == 1, s"task $pid holds buckets ${rows.map(_._2).mkString(",")}")
    }
    // The hub bucket (5000 hub rows plus its light subjects, over half the
    // shuffle) spans more than one task; every light bucket stays on one.
    val hubPart = Seq("HUB").toDF("k")
      .select(IcebergishTable.partExpr("k", nParts)).head().getInt(0)
    val tasksOf = byTask.groupBy(_._2).map { case (b, rows) => b -> rows.length }
    assert(tasksOf(hubPart) > 1, s"hub bucket on ${tasksOf(hubPart)} task(s)")
    assert((tasksOf - hubPart).values.forall(_ == 1), s"light buckets split: $tasksOf")
    // Max rows in one task: within twice a core's fair share of the 10000
    // rows (a hub range holds at most ceil(S/k) of its bucket's S slots),
    // and below the unsplit hub bucket.
    val cores = spark.sparkContext.defaultParallelism
    val hubRows = byTask.filter(_._2 == hubPart).map(_._3).sum
    val maxTask = byTask.map(_._3).max
    assert(maxTask <= 2 * 10000 / cores && maxTask < hubRows,
      s"max task $maxTask rows, hub bucket $hubRows, $cores cores")

    // inverseHashSlots really inverts HashPartitioning for the exact m.
    val m = nParts * maxSplit
    val lookup = GraphOut.inverseHashSlots(m)
    lookup.zipWithIndex.foreach { case (x, s) =>
      val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
        .hash(x, org.apache.spark.sql.types.IntegerType, 42L).toInt
      assert(((h % m) + m) % m == s)
    }
  }

  /** Edge files under bucket `part` of a build in `dir`. */
  private def filesIn(dir: String, part: Int): Int = {
    val d = java.nio.file.Paths.get(s"$dir/edges/data/part=$part")
    val s = java.nio.file.Files.list(d)
    try s.filter(_.toString.endsWith(".parquet")).count().toInt
    finally s.close()
  }

  /** Per-bucket (rows, bit_xor of row hashes) of a build's edge and vertex
    * tables.
    */
  private def fingerprints(dir: String): Map[(String, Int), (Long, Long)] =
    Seq("edges" -> "subj", "vertices" -> "id").flatMap { case (t, key) =>
      IcebergishTable.read(spark, s"$dir/$t")
        .select(IcebergishTable.partExpr(key, 8).as("b"),
          xxhash64(to_json(struct(col("*")))).as("h"))
        .groupBy("b").agg(count(lit(1)), expr("bit_xor(h)"))
        .collect().map(r => (t, r.getInt(0)) -> (r.getLong(1), r.getLong(2)))
    }.toMap

  /** A 400-page, 8-bucket build in `session`, once per `tag`. */
  private val built = scala.collection.mutable.Map.empty[String, String]
  private def buildIn(session: org.apache.spark.sql.SparkSession, hub: Double,
                      salt: Int, tag: String): String =
    built.getOrElseUpdate(tag, {
      val dir = tmpDir(s"graft-split-$tag")
      Pipeline.build(session, PipelineConfig(seed = 13L, nPages = 400L,
        partitions = 4, outputBuckets = 8, workDir = dir, runId = tag,
        hubShare = hub, writeSalt = salt))
      dir
    })

  test("writeSalt=0 AUTO: no sample job; hub bucket splits, zipf corpus splits less") {
    // AUTO's maximum split is the core count (at most 8), decided without
    // a Spark job.
    val (auto, jobs) = withJobCount {
      import spark.implicits._
      Pipeline.autoSalt(spark.emptyDataset[Page], PageSynth.aliasDictionary,
        PageSynth.relations.toMap, Map.empty, 8)
    }
    assert(jobs == 0, s"autoSalt ran $jobs job(s)")
    assert(auto == math.min(8, spark.sparkContext.defaultParallelism))

    val hubDir = buildIn(spark, 0.5, 0, "on-0.5-0")
    val zipfDir = buildIn(spark, 0.0, 0, "on-0.0-0")
    val hubPart = {
      import spark.implicits._
      Seq(PageSynth.entityId(0)).toDF("k")
        .select(IcebergishTable.partExpr("k", 8)).head().getInt(0)
    }
    val hubFiles = (0 until 8).map(filesIn(hubDir, _))
    val zipfFiles = (0 until 8).map(filesIn(zipfDir, _))
    assert(hubFiles(hubPart) > 1, s"auto split left the hub bucket whole: $hubFiles")
    assert(hubFiles.patch(hubPart, Nil, 1).forall(_ == 1), s"light buckets split: $hubFiles")
    assert(zipfFiles.sum < hubFiles.sum,
      s"zipf splits ($zipfFiles) not fewer than hub splits ($hubFiles)")
    assert(zipfFiles.max <= hubFiles.max)
  }

  test("AQE off: writeSalt 0, 1 and 4 build identical edge and vertex tables") {
    val off = spark.newSession()
    off.conf.set("spark.sql.adaptive.enabled", "false")
    Seq(0.5, 0.0).foreach { hub =>
      val reference = fingerprints(buildIn(spark, hub, 1, s"on-$hub-1"))
      assert(reference.keySet.map(_._1) == Set("edges", "vertices"))
      Seq(0, 1, 4).foreach { salt =>
        val dir = buildIn(off, hub, salt, s"off-$hub-$salt")
        assert(fingerprints(dir) == reference,
          s"hubShare=$hub writeSalt=$salt with AQE off changed a bucket")
        // Without the adaptive read every slot is its own task: a bucket
        // writes one file per non-empty slot, at most the maximum split.
        val maxSplit = if (salt == 0) math.min(8, spark.sparkContext.defaultParallelism) else salt
        assert((0 until 8).forall(b => filesIn(dir, b) <= maxSplit))
      }
      Seq(0, 4).foreach { salt =>
        assert(fingerprints(buildIn(spark, hub, salt, s"on-$hub-$salt")) == reference,
          s"hubShare=$hub writeSalt=$salt with AQE on changed a bucket")
      }
    }
  }
}
