package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.io.{IcebergishTable, Manifest, ManifestStats}

/** Round-5 manifest zone maps: per-file column min/max recorded at commit,
  * file-level skipping in DSv2 scan planning and deleteWhere's predicate
  * scan.
  */
class StatsPruningSpec extends SparkSpec {

  /** Two appends with DISJOINT value ranges → every bucket holds one
    * low-range file set and one high-range file set; a range predicate
    * must plan only the matching half.
    */
  private def twoEraTable(prefix: String): (String, Int) = {
    import spark.implicits._
    val t = Files.createTempDirectory(prefix).resolve("t").toString
    val lo = (0 until 40).map(i => (s"k$i", i.toLong, s"w${i % 7}"))
      .toDF("k", "v", "w")
    val hi = (0 until 40).map(i => (s"k$i", 1000L + i, s"w${i % 7}"))
      .toDF("k", "v", "w")
    IcebergishTable.write(lo, t, "k", 4)
    IcebergishTable.write(hi, t, "k", 4, SaveMode.Append)
    (t, IcebergishTable.currentSnapshot(t))
  }

  test("commit records per-file min/max; carry-forward across appends") {
    val (t, snap) = twoEraTable("graft-stats")
    val stats = ManifestStats.fileStatsOf(t, snap)
    val files = Manifest.read(t, snap).paths
    assert(files.nonEmpty && stats.keySet == files.toSet)
    // Every file has a v range entirely inside one era.
    val vRanges = files.map(f => stats(f)("v"))
    assert(vRanges.forall { case (mn, mx) =>
      (mn.toLong >= 0 && mx.toLong < 40) ||
        (mn.toLong >= 1000 && mx.toLong < 1040)
    }, s"mixed-era file stats: $vRanges")
    // String stats present too.
    assert(files.forall(f => stats(f).contains("k")))
  }

  test("DSv2 scan plans only files whose range can match the pushed filter") {
    val (t, snap) = twoEraTable("graft-stats-scan")
    val allFiles = Manifest.read(t, snap).paths.size

    def plannedFiles(filters: Array[org.apache.spark.sql.sources.Filter]): Int = {
      val tbl = new graft.sources.v2.GraftTable("t", t)
      val sb = tbl.newScanBuilder(
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
      sb.asInstanceOf[org.apache.spark.sql.connector.read.SupportsPushDownFilters]
        .pushFilters(filters)
      sb.build().toBatch.planInputPartitions().collect {
        case p: graft.sources.v2.GraftBucketPartition => p.files.length
      }.sum
    }

    val pruned = plannedFiles(Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("v", 1000L)))
    assert(pruned * 2 <= allFiles,
      s"range predicate planned $pruned of $allFiles files")
    // Unprunable predicate keeps everything (conservative).
    assert(plannedFiles(Array(
      org.apache.spark.sql.sources.IsNotNull("v"))) == allFiles)
    // And the pruned scan still answers correctly end-to-end.
    spark.conf.set("spark.sql.catalog.statsprune",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.statsprune.warehouse",
      java.nio.file.Paths.get(t).getParent.toString)
    val got = spark.table("statsprune.t").where(col("v") >= 1000L).count()
    assert(got == 40L)
  }

  test("deleteWhere reads only zone-map candidate files") {
    import spark.implicits._
    val (t, snap) = twoEraTable("graft-stats-del")
    // The candidate set for a high-era predicate is the high-era half.
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(IcebergishTable.manifestMeta(t)._1)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val all = Manifest.read(t, snap).paths
    val preds = ManifestStats.fromColumn(col("v") >= lit(1000L), schema)
    assert(preds.nonEmpty, "Column condition did not translate to StatPreds")
    val cand = ManifestStats.prune(t, snap, schema, preds, all)
    assert(cand.size * 2 <= all.size, s"${cand.size} of ${all.size}")

    // End-to-end: the delete itself stays correct through the pruned scan.
    val deleted = IcebergishTable.deleteWhere(spark, t, col("v") >= 1000L)
    assert(deleted == 40L)
    assert(IcebergishTable.read(spark, t).count() == 40L)
    assert(IcebergishTable.read(spark, t).agg(max("v")).as[Long].head() < 40L)

    // A predicate excluded by every file's range: zero candidates, no job.
    assert(IcebergishTable.deleteWhere(spark, t, col("v") > 100000L) == 0L)
  }

  test("predicate translation: filters, columns, timestamps, strings, IN, OR") {
    import org.apache.spark.sql.sources._
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType)))
    val stats = Map("v" -> ("10", "20"), "s" -> ("bbb", "ddd"))

    def may(f: Filter): Boolean =
      ManifestStats.fromFilter(f, schema)
        .forall(p => ManifestStats.mayMatch(stats, schema, p))

    assert(!may(EqualTo("v", 5L)) && may(EqualTo("v", 15L)))
    assert(!may(GreaterThan("v", 20L)) && may(GreaterThanOrEqual("v", 20L)))
    assert(!may(LessThan("v", 10L)) && may(LessThanOrEqual("v", 10L)))
    assert(!may(In("v", Array(1L, 2L, 30L))) && may(In("v", Array(1L, 12L))))
    assert(!may(EqualTo("s", "aaa")) && may(EqualTo("s", "ccc")))
    assert(!may(StringStartsWith("s", "e")) && may(StringStartsWith("s", "cc")))
    assert(!may(Or(EqualTo("v", 5L), EqualTo("v", 30L))) &&
      may(Or(EqualTo("v", 5L), EqualTo("v", 15L))))
    assert(!may(And(EqualTo("v", 15L), EqualTo("s", "aaa"))))
    // Unknown shapes and columns never prune.
    assert(may(IsNull("v")) && may(EqualTo("zz", 1L)))

    // Column-expression front door produces equivalent predicates.
    def mayC(c: org.apache.spark.sql.Column): Boolean =
      ManifestStats.fromColumn(c, schema)
        .forall(p => ManifestStats.mayMatch(stats, schema, p))
    assert(!mayC(col("v") === 5L) && mayC(col("v") === 15L))
    assert(!mayC(col("v") > 20L) && mayC(col("v") >= 20L))
    assert(!mayC(lit(5L) > col("v") && col("s") === "ccc"))
    assert(!mayC(col("s").startsWith("e")))
    assert(!mayC(col("v").isin(1L, 30L)))
  }

  test("timestamp zone maps prune through the DSv2 scan") {
    import spark.implicits._
    val t = Files.createTempDirectory("graft-stats-ts").resolve("t").toString
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def batch(dayOffset: Int) =
      (0 until 20).map { i =>
        (s"k$i", java.sql.Timestamp.from(
          base.plusSeconds(dayOffset * 86400L + i)))
      }.toDF("k", "ts")
    IcebergishTable.write(batch(0), t, "k", 4)
    IcebergishTable.write(batch(30), t, "k", 4, SaveMode.Append)
    val snap = IcebergishTable.currentSnapshot(t)
    val all = Manifest.read(t, snap).paths
    val cutoff = java.sql.Timestamp.from(base.plusSeconds(15 * 86400L))
    val preds = ManifestStats.fromFilter(
      org.apache.spark.sql.sources.GreaterThan("ts", cutoff),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType))))
    assert(preds.isDefined)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(IcebergishTable.manifestMeta(t)._1)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val cand = ManifestStats.prune(t, snap, schema, preds.toSeq, all)
    assert(cand.size * 2 <= all.size,
      s"timestamp range kept ${cand.size} of ${all.size} files")
    // Value-level sanity through a real read.
    assert(IcebergishTable.read(spark, t)
      .where(col("ts") > lit(cutoff)).count() == 20)
  }

  test("columns named like manifest keys or holding spaces get zone maps and prune") {
    import spark.implicits._
    val t = Files.createTempDirectory("graft-stats-names").resolve("t").toString
    val lo = (0 until 40).map(i => (s"k$i", i.toLong, s"a${i % 7}"))
    val hi = (0 until 40).map(i => (s"k$i", 1000L + i, s"z${i % 7}"))
    IcebergishTable.write(lo.toDF("k", "files", "a b"), t, "k", 4)
    IcebergishTable.write(hi.toDF("k", "files", "a b"), t, "k", 4, SaveMode.Append)
    val snap = IcebergishTable.currentSnapshot(t)
    val all = Manifest.read(t, snap).paths
    val stats = ManifestStats.fileStatsOf(t, snap)
    assert(all.forall(f => stats(f).contains("files") && stats(f).contains("a b")))
    val schema = IcebergishTable.read(spark, t).schema
    spark.conf.set("spark.sql.catalog.statsnames",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.statsnames.warehouse",
      java.nio.file.Paths.get(t).getParent.toString)
    for (c <- Seq(col("files") >= 1000L, col("a b") >= "z")) {
      val kept = ManifestStats.prune(t, snap, schema,
        ManifestStats.fromColumn(c, schema), all)
      assert(kept.nonEmpty && kept.size * 2 <= all.size,
        s"$c kept ${kept.size} of ${all.size} files")
      val pruned = spark.table("statsnames.t").where(c)
        .select("k", "files", "a b").as[(String, Long, String)].collect().sorted
      val unpruned = IcebergishTable.read(spark, t).where(c)
        .select("k", "files", "a b").as[(String, Long, String)].collect().sorted
      assert(pruned.length == 40 && pruned.sameElements(unpruned))
    }
  }
}
