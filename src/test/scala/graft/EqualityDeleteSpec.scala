package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.io.{IcebergishTable, Manifest}

/** Round-5 equality deletes (Iceberg v2 equality-delete files): blind
  * delete-by-key with NO data scan, scoped by per-file sequence numbers so
  * later appends legally re-insert the key; applied by every read path.
  */
class EqualityDeleteSpec extends SparkSpec {

  private def seed(prefix: String): String = {
    import spark.implicits._
    val t = specDir(prefix).resolve("t").toString
    IcebergishTable.write(
      (0 until 100).map(i => (s"k$i", i.toLong)).toDF("k", "v"), t, "k", 4)
    t
  }

  test("blind delete: no data file touched, matching rows gone from reads") {
    import spark.implicits._
    val t = seed("graft-eq")
    val s0 = IcebergishTable.currentSnapshot(t)
    val files0 = Manifest.read(t, s0).paths
    val mtimes0 = files0.map(f => f ->
      Files.getLastModifiedTime(java.nio.file.Paths.get(t).resolve(f))).toMap

    IcebergishTable.deleteEquality(spark, t,
      Seq("k3", "k77", "kNoSuch").toDF("k"), Seq("k"))

    val s1 = IcebergishTable.currentSnapshot(t)
    assert(Manifest.read(t, s1).paths == files0)
    files0.foreach { f =>
      assert(Files.getLastModifiedTime(
        java.nio.file.Paths.get(t).resolve(f)) == mtimes0(f), s"$f touched")
    }
    assert(Manifest.read(t, s1).deletes.map(_.path).size == 1)
    assert(IcebergishTable.read(spark, t).count() == 98)
    assert(IcebergishTable.read(spark, t)
      .where(col("k").isin("k3", "k77")).count() == 0)
    // Time travel: the pre-delete snapshot still sees them.
    assert(IcebergishTable.readSnapshot(spark, t, s0).count() == 100)
  }

  test("sequence scoping: a key appended AFTER the delete re-inserts") {
    import spark.implicits._
    val t = seed("graft-eq-seq")
    IcebergishTable.deleteEquality(spark, t, Seq("k5").toDF("k"), Seq("k"))
    assert(IcebergishTable.read(spark, t).count() == 99)
    // Re-insert the same key: the new file's seq exceeds the delete's.
    IcebergishTable.write(Seq(("k5", 5555L)).toDF("k", "v"), t, "k", 4,
      SaveMode.Append)
    val got = IcebergishTable.read(spark, t)
      .where(col("k") === "k5").select("v").as[Long].collect().toSeq
    assert(got == Seq(5555L), s"got $got — old row resurrected or new lost")
    assert(IcebergishTable.read(spark, t).count() == 100)
    // A SECOND eq delete of the same key kills the re-inserted row too.
    IcebergishTable.deleteEquality(spark, t, Seq("k5").toDF("k"), Seq("k"))
    assert(IcebergishTable.read(spark, t).where(col("k") === "k5").count() == 0)
    assert(IcebergishTable.read(spark, t).count() == 99)
  }

  test("DSv2 scans apply equality deletes — even when the key is projected away") {
    import spark.implicits._
    val t = seed("graft-eq-dsv2")
    IcebergishTable.deleteEquality(spark, t,
      Seq("k10", "k20").toDF("k"), Seq("k"))
    // A position delete on the SAME table: both kinds must compose.
    IcebergishTable.deleteWhere(spark, t, col("v") === 30L, morMaxRows = 5L)

    val warehouse = java.nio.file.Paths.get(t).getParent.toString
    spark.conf.set("spark.sql.catalog.graft_e",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_e.warehouse", warehouse)
    try {
      val tbl = spark.table("graft_e.t")
      assert(tbl.count() == 97)
      // Projection WITHOUT the key column: the scan must still read k to
      // evaluate the equality tombstone.
      assert(tbl.select("v").as[Long].collect().toSet ==
        (0 until 100).map(_.toLong).toSet -- Set(10L, 20L, 30L))
      // Pushed filter composes (row-group pruning stays legal for eq-only
      // files; the filter re-applies above the scan either way).
      assert(tbl.where(col("v") < 25L).count() == 23L)
      assert(tbl.where(col("k") === "k20").count() == 0L)
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_e")
      spark.conf.unset("spark.sql.catalog.graft_e.warehouse")
    }
  }

  test("compact folds equality deletes; rollback drops them; typed rejections") {
    import spark.implicits._
    val t = seed("graft-eq-fold")
    val s0 = IcebergishTable.currentSnapshot(t)
    IcebergishTable.deleteEquality(spark, t, Seq("k1", "k2").toDF("k"), Seq("k"))
    IcebergishTable.compact(spark, t, 4, "k")
    val cur = IcebergishTable.currentSnapshot(t)
    assert(Manifest.read(t, cur).deletes.map(_.path).isEmpty)
    assert(IcebergishTable.read(spark, t).count() == 98)
    // Compacted files carry a NEW seq: a stale eq tombstone could never
    // re-apply to them even if it survived (it did not).
    assert(Manifest.read(t, cur).files.map(_.seq).forall(_ == cur))

    // Rollback over an eq delete restores the rows and reclaims the file.
    val t2 = seed("graft-eq-rb")
    val r0 = IcebergishTable.currentSnapshot(t2)
    IcebergishTable.deleteEquality(spark, t2, Seq("k9").toDF("k"), Seq("k"))
    assert(IcebergishTable.read(spark, t2).count() == 99)
    IcebergishTable.rollbackTo(t2, r0)
    assert(IcebergishTable.read(spark, t2).count() == 100)

    // Typed rejections: unknown column, non-integral/string key, too many.
    intercept[InvalidConfig] {
      IcebergishTable.deleteEquality(spark, t2, Seq("x").toDF("nope"), Seq("nope"))
    }
    val t3 = specDir("graft-eq-ty").resolve("t").toString
    IcebergishTable.write(Seq(("a", 1.5)).toDF("k", "d"), t3, "k", 2)
    intercept[InvalidConfig] {
      IcebergishTable.deleteEquality(spark, t3, Seq(1.5).toDF("d"), Seq("d"))
    }
    intercept[InvalidConfig] {
      IcebergishTable.deleteEquality(spark, t2,
        (0 until 20).map(i => s"k$i").toDF("k"), Seq("k"), maxKeys = 10)
    }
  }

  test("equality tombstones survive a key-column RENAME; drop of a live key rejects") {
    import spark.implicits._
    val t = seed("graft-eq-ren")
    IcebergishTable.deleteEquality(spark, t, Seq("k4", "k8").toDF("k"), Seq("k"))
    assert(IcebergishTable.read(spark, t).count() == 98)
    // Rename the KEY column: the tombstone's header field ids keep it
    // attached — reads still exclude the deleted keys under the new name.
    IcebergishTable.renameColumn(t, "k", "id")
    assert(IcebergishTable.read(spark, t).count() == 98)
    assert(IcebergishTable.read(spark, t)
      .where(col("id").isin("k4", "k8")).count() == 0)
    // DSv2 path too (forced key columns resolve by id as well).
    val warehouse = java.nio.file.Paths.get(t).getParent.toString
    spark.conf.set("spark.sql.catalog.graft_er",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_er.warehouse", warehouse)
    try {
      assert(spark.table("graft_er.t").select("v").count() == 98)
    } finally {
      spark.conf.unset("spark.sql.catalog.graft_er")
      spark.conf.unset("spark.sql.catalog.graft_er.warehouse")
    }
    // Dropping a NON-bucket column that keys a LIVE tombstone rejects
    // typed (the bucket-key rule would mask this on `id`): the tombstone
    // would silently stop applying — rows resurrect.
    val t2 = specDir("graft-eq-drop")
      .resolve("t").toString
    IcebergishTable.write(
      (0 until 20).map(i => (s"k$i", s"tag${i % 4}")).toDF("k", "tag"),
      t2, "k", 2)
    IcebergishTable.deleteEquality(spark, t2, Seq("tag1").toDF("tag"), Seq("tag"))
    assert(IcebergishTable.read(spark, t2).count() == 15)
    intercept[InvalidConfig] { IcebergishTable.dropColumn(t2, "tag") }
    // Compact folds the tombstone; the drop gate opens.
    IcebergishTable.compact(spark, t2, 2, "k")
    IcebergishTable.dropColumn(t2, "tag")
    assert(IcebergishTable.read(spark, t2).count() == 15)
    assert(!IcebergishTable.read(spark, t2).columns.contains("tag"))
  }

  test("composite keys and integral keys; nulls never match") {
    import spark.implicits._
    val t = specDir("graft-eq-comp").resolve("t").toString
    IcebergishTable.write(
      Seq(("a", 1L, "x1"), ("a", 2L, "x2"), ("b", 1L, "x3"),
        (null.asInstanceOf[String], 1L, "x4"))
        .toDF("k", "n", "tag"), t, "tag", 2)
    IcebergishTable.deleteEquality(spark, t,
      Seq(("a", 1L), (null.asInstanceOf[String], 1L)).toDF("k", "n"),
      Seq("k", "n"))
    val left = IcebergishTable.read(spark, t)
      .select("tag").as[String].collect().toSet
    // Only ("a",1) deleted; the null-key row SURVIVES (null never equals,
    // and null key tuples are dropped at write).
    assert(left == Set("x2", "x3", "x4"), s"got $left")
  }
}
