package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.io.{IcebergishTable, Manifest, ManifestStats}

/** Round-5 manifest zone maps: per-file column min/max recorded at commit
  * and file-level skipping in DSv2 scan planning, from the filters Spark
  * pushes to the scan — deleteWhere's predicate scan included.
  */
class StatsPruningSpec extends SparkSpec {

  /** Two appends with DISJOINT value ranges → every bucket holds one
    * low-range file set and one high-range file set; a range predicate
    * must plan only the matching half.
    */
  private def twoEraTable(prefix: String): (String, Int) = {
    import spark.implicits._
    val t = specDir(prefix).resolve("t").toString
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
    val stats = Manifest.read(t, snap).files.map(f => f.path -> f.stats).toMap
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
    // The high-era files: the ones the append (the current snapshot) added.
    val all = Manifest.read(t, snap).paths
    val hiEra = all.toSet -- Manifest.read(t, snap - 1).paths
    assert(hiEra.nonEmpty && hiEra.size * 2 <= all.size, s"${hiEra.size} of ${all.size}")

    // MOR: the count and the victim collect both plan only candidates.
    val (morDeleted, morQueries) = withQueries(
      IcebergishTable.deleteWhere(spark, t, col("v") >= 1030L, morMaxRows = 100L))
    assert(morDeleted == 10L)
    val morPlans = morQueries.map(SparkSpec.plannedFiles)
    assert(morPlans.size == 2 && morPlans.forall(f => f.nonEmpty && f.toSet.subsetOf(hiEra)),
      s"MOR predicate scans planned $morPlans of ${all.size} files")
    assert(IcebergishTable.read(spark, t).count() == 70L)

    // SQL DELETE runs deleteWhere with a name-anchored condition: its
    // predicate scans prune the same way.
    spark.conf.set("spark.sql.catalog.statsdel",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.statsdel.warehouse",
      java.nio.file.Paths.get(t).getParent.toString)
    val (_, sqlQueries) = withQueries(spark.sql("DELETE FROM statsdel.t WHERE v >= 1020"))
    val sqlPlans = sqlQueries.map(SparkSpec.plannedFiles).filter(_.nonEmpty)
    assert(sqlPlans.nonEmpty && sqlPlans.forall(_.toSet.subsetOf(hiEra)),
      s"SQL DELETE predicate scans planned $sqlPlans of ${all.size} files")
    assert(IcebergishTable.read(spark, t).count() == 60L)

    // COW end-to-end: the delete stays correct through the pruned scan.
    val deleted = IcebergishTable.deleteWhere(spark, t, col("v") >= 1000L)
    assert(deleted == 20L)
    assert(IcebergishTable.read(spark, t).count() == 40L)
    assert(IcebergishTable.read(spark, t).agg(max("v")).as[Long].head() < 40L)

    // A predicate every zone map excludes: 0, no data file planned (so
    // none opened), nothing committed.
    val before = IcebergishTable.currentSnapshot(t)
    val (none, noneQueries) = withQueries(
      IcebergishTable.deleteWhere(spark, t, col("v") > 100000L))
    assert(none == 0L)
    assert(noneQueries.forall(SparkSpec.plannedFiles(_).isEmpty))
    assert(IcebergishTable.currentSnapshot(t) == before)
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
    // Names arrive as Spark pushes them: quoted ones prune, nested never.
    assert(!may(EqualTo("`v`", 5L)) && ManifestStats.fromFilter(EqualTo("v.x", 5L), schema).isEmpty)

    // Column predicates plan through the scan's pushed filters. One
    // bucket, two appends: file lo holds v in [10, 20] and s in
    // [bbb, ddd], file hi holds v in [1000, 1005] and s in [xa, xf].
    import spark.implicits._
    val t = specDir("graft-stats-cols").resolve("t").toString
    IcebergishTable.write(Seq(("k0", 10L, "bbb"), ("k1", 20L, "ddd"))
      .toDF("k", "v", "s"), t, "k", 1)
    IcebergishTable.write((0 to 5).map(i => (s"k$i", 1000L + i, s"x${"abcdef"(i)}"))
      .toDF("k", "v", "s"), t, "k", 1, SaveMode.Append)
    def planned(c: org.apache.spark.sql.Column): Int =
      plannedFiles(IcebergishTable.read(spark, t).where(c)).size
    assert(planned(col("v") === 5L) == 0 && planned(col("v") === 15L) == 1)
    assert(planned(col("v") > 20L) == 1 && planned(col("v") >= 20L) == 2)
    assert(planned(col("v") < 10L) == 0 && planned(col("v") <= 10L) == 1)
    assert(planned(lit(5L) > col("v") && col("s") === "ccc") == 0)
    assert(planned(lit(15L) < col("v") && col("s") === "ccc") == 1)
    assert(planned(col("s").startsWith("e")) == 0 && planned(col("s").startsWith("cc")) == 1)
    assert(planned(col("v").isin(1L, 30L)) == 0 && planned(col("v").isin(1L, 12L)) == 1)
    assert(planned(col("v") === 5L || col("v") === 1003L) == 1)
    assert(planned(col("v").isNull) == 2)
  }

  test("timestamp zone maps prune through the DSv2 scan") {
    import spark.implicits._
    val t = specDir("graft-stats-ts").resolve("t").toString
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z")
    def batch(dayOffset: Int) =
      (0 until 20).map { i =>
        (s"k$i", java.sql.Timestamp.from(
          base.plusSeconds(dayOffset * 86400L + i)))
      }.toDF("k", "ts")
    IcebergishTable.write(batch(0), t, "k", 4)
    IcebergishTable.write(batch(30), t, "k", 4, SaveMode.Append)
    val all = Manifest.read(t, IcebergishTable.currentSnapshot(t)).paths
    val cutoff = java.sql.Timestamp.from(base.plusSeconds(15 * 86400L))
    val preds = ManifestStats.fromFilter(
      org.apache.spark.sql.sources.GreaterThan("ts", cutoff),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType))))
    assert(preds.isDefined)
    val cand = plannedFiles(IcebergishTable.read(spark, t).where(col("ts") > lit(cutoff)))
    assert(cand.nonEmpty && cand.size * 2 <= all.size,
      s"timestamp range kept ${cand.size} of ${all.size} files")
    // Value-level sanity through a real read.
    assert(IcebergishTable.read(spark, t)
      .where(col("ts") > lit(cutoff)).count() == 20)
  }

  test("columns named like manifest keys or holding spaces get zone maps and prune") {
    import spark.implicits._
    val t = specDir("graft-stats-names").resolve("t").toString
    val lo = (0 until 40).map(i => (s"k$i", i.toLong, s"a${i % 7}"))
    val hi = (0 until 40).map(i => (s"k$i", 1000L + i, s"z${i % 7}"))
    IcebergishTable.write(lo.toDF("k", "files", "a b"), t, "k", 4)
    IcebergishTable.write(hi.toDF("k", "files", "a b"), t, "k", 4, SaveMode.Append)
    val files = Manifest.read(t, IcebergishTable.currentSnapshot(t)).files
    assert(files.forall(f => f.stats.contains("files") && f.stats.contains("a b")))
    spark.conf.set("spark.sql.catalog.statsnames",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.statsnames.warehouse",
      java.nio.file.Paths.get(t).getParent.toString)
    // Spark pushes `a b` quoted; both the catalog's scan and the path
    // read's plan only the high era.
    for (c <- Seq(col("files") >= 1000L, col("a b") >= "z")) {
      val catalog = spark.table("statsnames.t").where(c)
      val path = IcebergishTable.read(spark, t).where(c)
      for (df <- Seq(catalog, path)) {
        val kept = plannedFiles(df).size
        assert(kept > 0 && kept * 2 <= files.size,
          s"$c planned $kept of ${files.size} files")
      }
      val rows = catalog.select("k", "files", "a b").as[(String, Long, String)].collect().sorted
      assert(rows.length == 40 && rows.sameElements(
        path.select("k", "files", "a b").as[(String, Long, String)].collect().sorted))
      assert(rows.forall(_._2 >= 1000L))
    }
  }
}
