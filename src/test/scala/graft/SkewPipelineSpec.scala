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

  private def tmpDir(p: String): String = Files.createTempDirectory(p).toString

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

  test("ALIGNED salted plan: one exchange, one (bucket,salt) slice per task, exact dedup") {
    import spark.implicits._
    val nParts = 8
    val salt = 4
    val df = spark.range(0, 10000)
      .select(
        when(col("id") % 2 === 0, lit("HUB"))
          .otherwise(concat(lit("s"), col("id") % 500)).as("subj"),
        lit("p").as("pred"), concat(lit("o"), col("id")).as("obj"),
        concat(lit("u"), col("id")).as("url"), lit(1.0).as("conf"))
      .withColumn(IcebergishTable.PartCol, IcebergishTable.partExpr("subj", nParts))
    val aligned = GraphOut.bucketedDedupPlanAlignedSalted(
      df, nParts, Seq("subj", "pred", "obj", "url"), salt)
    val plan = aligned.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1, plan)

    // Result identical to the plain aligned plan's distinct set.
    val plain = GraphOut.bucketedDedupPlanAligned(df, nParts, "subj",
      Seq("subj", "pred", "obj", "url"))
    assert(aligned.select("subj", "obj").as[(String, String)].collect().toSet ==
      plain.select("subj", "obj").as[(String, String)].collect().toSet)

    // PERFECT slot alignment: shuffle partition s holds exactly the rows of
    // bucket s/salt (every task one whole (bucket,salt) slice — no birthday
    // collisions, no empty tasks among populated slots).
    val byTask = aligned
      .groupBy(spark_partition_id().as("pid"), col(IcebergishTable.PartCol))
      .count().as[(Int, Int, Long)].collect()
    byTask.foreach { case (pid, part, _) =>
      assert(pid / salt == part,
        s"slot $pid holds bucket $part — expected bucket ${pid / salt}")
    }
    // The hub bucket occupies `salt` distinct tasks.
    val hubPart = Seq("HUB").toDF("k")
      .select(IcebergishTable.partExpr("k", nParts)).head().getInt(0)
    val hubTasks = byTask.filter(_._2 == hubPart).map(_._1).distinct
    assert(hubTasks.length == salt,
      s"hub bucket split over ${hubTasks.length} tasks, expected $salt")
    // Max rows landing in one shuffle task: the unsalted hub task holds all
    // 5000 hub rows; salting bounds it to ~5000/salt (+ the bucket's share
    // of the light subjects).
    val maxTask = byTask.groupBy(_._1).values.map(_.map(_._3).sum).max
    assert(maxTask < 5000 / 8 * 3, s"salted max task too heavy: $maxTask")

    // inverseHashSlots really inverts HashPartitioning for the exact m.
    val m = nParts * salt
    val lookup = GraphOut.inverseHashSlots(m)
    lookup.zipWithIndex.foreach { case (x, s) =>
      val h = org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
        .hash(x, org.apache.spark.sql.types.IntegerType, 42L).toInt
      assert(((h % m) + m) % m == s)
    }
  }

  test("writeSalt=0 AUTO sizes the salt from the sampled hub share") {
    val dict = PageSynth.aliasDictionary
    val phrases = PageSynth.relations.toMap
    def pagesFor(hub: Double): org.apache.spark.sql.Dataset[Page] = {
      val dir = tmpDir(s"graft-as-$hub")
      val table = Pipeline.buildPagesTable(spark, PipelineConfig(seed = 13L,
        nPages = 400L, partitions = 4, outputBuckets = 8, workDir = dir,
        runId = "as", hubShare = hub))
      Pipeline.readPagesForExtraction(spark, table)
    }
    // Planted 50% hub: expected share ≈ 0.4-0.5 → salt ≈ ceil(s·8) ≥ 3.
    val saltHub = Pipeline.autoSalt(pagesFor(0.5), dict, phrases, Map.empty, 8)
    assert(saltHub >= 3 && saltHub <= 8, s"hub auto salt $saltHub")
    // Historical (zipf) corpus: hottest entity ~17% → a smaller salt.
    val saltZipf = Pipeline.autoSalt(pagesFor(0.0), dict, phrases, Map.empty, 8)
    assert(saltZipf >= 1 && saltZipf < saltHub, s"zipf auto salt $saltZipf")

    // End-to-end: writeSalt=0 through the real pipeline splits the hub
    // bucket physically and still matches the unsalted edge table (the
    // salt-invariance of results is proven in the salt=4 test above).
    val dir = tmpDir("graft-auto-e2e")
    Pipeline.build(spark, PipelineConfig(seed = 13L, nPages = 400L,
      partitions = 4, outputBuckets = 8, workDir = dir, runId = "auto",
      hubShare = 0.5, writeSalt = 0))
    val hubPart = {
      import spark.implicits._
      Seq(PageSynth.entityId(0)).toDF("k")
        .select(IcebergishTable.partExpr("k", 8)).head().getInt(0)
    }
    val d = java.nio.file.Paths.get(s"$dir/edges/data/part=$hubPart")
    val s = java.nio.file.Files.list(d)
    val n = try s.filter(_.toString.endsWith(".parquet")).count() finally s.close()
    assert(n > 1, s"auto salt did not split the hub bucket ($n files)")
  }
}
