package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.io.{IcebergishTable, Manifest}

/** Round-5 merge-on-read position deletes: small deletes write a
  * (file, row-ordinal) tombstone file instead of rewriting buckets; every
  * read path — driver reads, time travel, DSv2 scans (filtered and not) —
  * anti-joins it; compact folds it back into data; expiry reclaims it.
  */
class MorDeleteSpec extends SparkSpec {

  private def seed(prefix: String): String = {
    import spark.implicits._
    val t = specDir(prefix).resolve("t").toString
    IcebergishTable.write(
      (0 until 200).map(i => (s"k$i", i.toLong)).toDF("k", "v"), t, "k", 4)
    t
  }

  test("small delete leaves every data file untouched; reads agree with COW") {
    import spark.implicits._
    val t = seed("graft-mor")
    val s0 = IcebergishTable.currentSnapshot(t)
    val files0 = Manifest.read(t, s0).paths
    val mtimes0 = files0.map(f => f ->
      Files.getLastModifiedTime(java.nio.file.Paths.get(t).resolve(f))).toMap

    val deleted = IcebergishTable.deleteWhere(spark, t,
      col("v").isin(3L, 77L, 150L), morMaxRows = 100L)
    assert(deleted == 3L)

    // FILE-LIST assert: same data files, byte-identical (mtimes unmoved);
    // the new snapshot only adds a delete entry.
    val s1 = IcebergishTable.currentSnapshot(t)
    assert(Manifest.read(t, s1).paths == files0)
    files0.foreach { f =>
      assert(Files.getLastModifiedTime(
        java.nio.file.Paths.get(t).resolve(f)) == mtimes0(f), s"$f rewritten")
    }
    assert(Manifest.read(t, s1).deletes.map(_.path).size == 1)

    // Reads exclude exactly the victims (≡ what a COW delete would leave).
    val got = IcebergishTable.read(spark, t).select("v").as[Long].collect().toSet
    assert(got == (0 until 200).map(_.toLong).toSet -- Set(3L, 77L, 150L))
    // Time travel to the pre-delete snapshot still sees them.
    assert(IcebergishTable.readSnapshot(spark, t, s0).count() == 200)

    // Stacked MOR deletes compose; already-deleted rows are not recounted.
    assert(IcebergishTable.deleteWhere(spark, t,
      col("v").isin(3L, 4L), morMaxRows = 100L) == 1L)
    assert(IcebergishTable.read(spark, t).count() == 196)

    // Above the threshold → COW (files rewritten, delete list carried).
    val before = Manifest.read(t,
      IcebergishTable.currentSnapshot(t)).paths
    assert(IcebergishTable.deleteWhere(spark, t, col("v") < 50L,
      morMaxRows = 10L) == 48L) // 0..49 minus the two already-MOR-deleted
    assert(Manifest.read(t,
      IcebergishTable.currentSnapshot(t)).paths != before)
    assert(IcebergishTable.read(spark, t).count() == 148)
    assert(IcebergishTable.read(spark, t).agg(min("v")).as[Long].head() == 50L)
  }

  test("DSv2 scans apply position deletes — with and without pushed filters") {
    import spark.implicits._
    val t = seed("graft-mor-dsv2")
    IcebergishTable.deleteWhere(spark, t, col("v").isin(10L, 20L, 130L),
      morMaxRows = 100L)

    val warehouse = java.nio.file.Paths.get(t).getParent.toString
    spark.conf.set("spark.sql.catalog.graft_m",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_m.warehouse", warehouse)
    try {
      val tbl = spark.table("graft_m.t")
      assert(tbl.count() == 197)
      assert(tbl.select("v").as[Long].collect().toSet ==
        (0 until 200).map(_.toLong).toSet -- Set(10L, 20L, 130L))
      // A pushed data filter must not resurrect victims (ordinal skipping
      // runs on the unfiltered reader; the filter re-applies above).
      assert(tbl.where(col("v") < 30L).count() == 28L)
      assert(tbl.where(col("v") === 20L).count() == 0L)
      // part metadata-column pruning composes with MOR.
      val withPart = tbl.where(col("part") === 1)
      assert(withPart.count() ==
        IcebergishTable.read(spark, t).where(col("part") === 1).count())
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_m")
      spark.conf.unset("spark.sql.catalog.graft_m.warehouse")
    }
  }

  test("compact folds deletes into data; expiry reclaims the tombstone files") {
    import spark.implicits._
    val t = seed("graft-mor-fold")
    IcebergishTable.deleteWhere(spark, t, col("v") % 50L === 7L,
      morMaxRows = 100L)
    assert(IcebergishTable.read(spark, t).count() == 196)
    IcebergishTable.compact(spark, t, 4, "k")
    val cur = IcebergishTable.currentSnapshot(t)
    // The compacted snapshot carries NO delete entries (folded physically)…
    assert(Manifest.read(t, cur).deletes.map(_.path).isEmpty)
    assert(IcebergishTable.read(spark, t).count() == 196)
    // …and expiry reclaims the TSV once no retained snapshot references it.
    assert(Files.list(java.nio.file.Paths.get(t).resolve("deletes"))
      .count() == 1)
    IcebergishTable.expireSnapshots(t, keepLast = 1)
    assert(!Files.exists(java.nio.file.Paths.get(t).resolve("deletes")) ||
      Files.list(java.nio.file.Paths.get(t).resolve("deletes")).count() == 0)
  }

  test("rollback over a MOR delete restores the rows and drops the tombstone") {
    import spark.implicits._
    val t = seed("graft-mor-rb")
    val s0 = IcebergishTable.currentSnapshot(t)
    IcebergishTable.deleteWhere(spark, t, col("v") === 42L, morMaxRows = 10L)
    assert(IcebergishTable.read(spark, t).count() == 199)
    IcebergishTable.rollbackTo(t, s0)
    assert(IcebergishTable.read(spark, t).count() == 200)
    assert(Manifest.read(t, s0).deletes.map(_.path).isEmpty)
    assert(!Files.exists(java.nio.file.Paths.get(t).resolve("deletes")) ||
      Files.list(java.nio.file.Paths.get(t).resolve("deletes")).count() == 0)
  }

  test("MOR merge: matched rows tombstoned, updates appended, no file rewritten") {
    import spark.implicits._
    val t = seed("graft-mor-merge")
    val s0 = IcebergishTable.currentSnapshot(t)
    val files0 = Manifest.read(t, s0).paths
    val mtimes0 = files0.map(f => f ->
      Files.getLastModifiedTime(java.nio.file.Paths.get(t).resolve(f))).toMap

    // 2 matches (k3, k7) + 1 insert (knew) under the threshold → MOR.
    IcebergishTable.mergeRows(t,
      Seq(("k3", 3333L), ("k7", 7777L), ("knew", 9L)).toDF("k", "v"),
      Seq("k"), morMaxRows = 10L)

    val s1 = IcebergishTable.currentSnapshot(t)
    // Every SEED file untouched (same mtime); updates arrived as NEW files;
    // one tombstone masks the two replaced rows — all in ONE commit.
    files0.foreach { f =>
      assert(Manifest.read(t, s1).paths.contains(f))
      assert(Files.getLastModifiedTime(
        java.nio.file.Paths.get(t).resolve(f)) == mtimes0(f), s"$f rewritten")
    }
    assert(Manifest.read(t, s1).paths.size > files0.size)
    assert(Manifest.read(t, s1).deletes.map(_.path).size == 1)
    val got = IcebergishTable.read(spark, t)
      .where(col("k").isin("k3", "k7", "knew"))
      .select("k", "v").as[(String, Long)].collect().toSet
    assert(got == Set(("k3", 3333L), ("k7", 7777L), ("knew", 9L)))
    assert(IcebergishTable.read(spark, t).count() == 201)
    // Time travel: the pre-merge snapshot still sees the original rows.
    assert(IcebergishTable.readSnapshot(spark, t, s0)
      .where(col("k") === "k3").select("v").as[Long].head() == 3L)

    // Over the threshold → falls back to COW (files rewritten).
    IcebergishTable.mergeRows(t,
      (0 until 50).map(i => (s"k$i", 50000L + i)).toDF("k", "v"),
      Seq("k"), morMaxRows = 10L)
    assert(Manifest.read(t,
      IcebergishTable.currentSnapshot(t)).paths.intersect(files0).isEmpty ||
      IcebergishTable.read(spark, t).where(col("v") >= 50000L).count() == 50)
    assert(IcebergishTable.read(spark, t).count() == 201)
  }

  test("merge and append on a table carrying MOR deletes stay exact") {
    import spark.implicits._
    val t = seed("graft-mor-mix")
    IcebergishTable.deleteWhere(spark, t, col("v").isin(1L, 2L, 3L),
      morMaxRows = 10L)
    // Append lands beside the tombstones; they keep applying to old files.
    IcebergishTable.write((1000 until 1010).map(i => (s"k$i", i.toLong))
      .toDF("k", "v"), t, "k", 4, SaveMode.Append)
    assert(IcebergishTable.read(spark, t).count() == 207)
    // MERGE (COW rewrite of touched buckets) must fold the deletes for the
    // buckets it rewrites and keep them for the rest.
    IcebergishTable.mergeRows(t,
      Seq(("k5", 5000L), ("k1", 1111L)).toDF("k", "v"), Seq("k"))
    val vals = IcebergishTable.read(spark, t).select("v").as[Long].collect().toSet
    assert(vals.contains(5000L) && vals.contains(1111L))
    assert(!vals.contains(5L), "merged-over row survived")
    assert(!vals.contains(1L), "MOR-deleted k1 value resurrected by merge")
    assert(!vals.contains(2L) && !vals.contains(3L), "MOR victims resurrected")
    // k5 replaces (207 stays), k1 was MOR-DELETED → correctly treated as
    // absent → the update row INSERTS (208).
    assert(IcebergishTable.read(spark, t).count() == 208)
  }
}
