package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.{IcebergishTable, Manifest}

/** Round-5 schema evolution: column RENAME and DROP via parquet field-id
  * mapping (the manifest schema changes; data files never do), plus the
  * maxfid monotonicity that keeps a re-added column from resurrecting
  * dropped values, plus the commit-retry helper.
  */
class SchemaEvolutionSpec extends SparkSpec {

  private def freshTable(prefix: String): String =
    specDir(prefix).resolve("t").toString

  test("rename column: data files keep old name, reads resolve by field id") {
    import spark.implicits._
    val t = freshTable("graft-rename")
    IcebergishTable.write(
      Seq(("a", 1L, "x"), ("b", 2L, "y")).toDF("k", "v", "tag"), t, "k", 4)
    val sOld = IcebergishTable.currentSnapshot(t)

    IcebergishTable.renameColumn(t, "tag", "label")

    // Current reads: new name, old files' values still resolve.
    val cur = IcebergishTable.read(spark, t)
    assert(cur.columns.toSeq == Seq("k", "v", "label", "part"))
    assert(cur.select("k", "label").as[(String, String)].collect().toSet ==
      Set(("a", "x"), ("b", "y")))

    // Appends under the NEW schema land beside old-name files; both read.
    IcebergishTable.write(Seq(("c", 3L, "z")).toDF("k", "v", "label"),
      t, "k", 4, org.apache.spark.sql.SaveMode.Append)
    assert(IcebergishTable.read(spark, t)
      .select("k", "label").as[(String, String)].collect().toSet ==
      Set(("a", "x"), ("b", "y"), ("c", "z")))

    // Time travel: the pre-rename era reads under its era name.
    val old = IcebergishTable.readSnapshot(spark, t, sOld)
    assert(old.columns.contains("tag") && !old.columns.contains("label"))
    assert(old.select("k", "tag").as[(String, String)].collect().toSet ==
      Set(("a", "x"), ("b", "y")))

    // Renaming the bucket key renames the spec with it.
    IcebergishTable.renameColumn(t, "k", "id")
    assert(IcebergishTable.bucketSpecOf(t).contains(("id", 4)))
    assert(IcebergishTable.read(spark, t).select("id").as[String]
      .collect().toSet == Set("a", "b", "c"))

    // Typed rejections.
    intercept[InvalidConfig] { IcebergishTable.renameColumn(t, "nope", "x") }
    intercept[InvalidConfig] { IcebergishTable.renameColumn(t, "v", "LABEL") }
    intercept[InvalidConfig] {
      IcebergishTable.renameColumn(t, IcebergishTable.PartCol, "p2")
    }
  }

  test("drop column: metadata-only; re-add gets a FRESH field id (no resurrection)") {
    import spark.implicits._
    val t = freshTable("graft-drop")
    IcebergishTable.write(
      Seq(("a", 1L, "secret-a"), ("b", 2L, "secret-b"))
        .toDF("k", "v", "aux"), t, "k", 4)
    val sOld = IcebergishTable.currentSnapshot(t)
    val filesBefore = Manifest.read(t, sOld).paths

    IcebergishTable.dropColumn(t, "aux")

    // Same file list (metadata-only), column gone from current reads.
    val sNew = IcebergishTable.currentSnapshot(t)
    assert(Manifest.read(t, sNew).paths == filesBefore)
    assert(IcebergishTable.read(spark, t).columns.toSeq ==
      Seq("k", "v", "part"))

    // Time travel still sees the dropped column's values.
    assert(IcebergishTable.readSnapshot(spark, t, sOld)
      .select("k", "aux").as[(String, String)].collect().toSet ==
      Set(("a", "secret-a"), ("b", "secret-b")))

    // A writer still carrying the column is rejected typed.
    intercept[SchemaMismatch] {
      IcebergishTable.write(Seq(("c", 3L, "stale")).toDF("k", "v", "aux"),
        t, "k", 4, org.apache.spark.sql.SaveMode.Append)
    }

    // Re-adding the SAME NAME yields nulls for old files — the fresh field
    // id (maxfid is monotone) cannot match the dropped column's id, so the
    // old values can never resurrect through id resolution.
    IcebergishTable.addColumn(t, "aux", org.apache.spark.sql.types.StringType)
    val readded = IcebergishTable.read(spark, t)
    assert(readded.where(col("aux").isNotNull).count() == 0,
      "dropped column values resurrected under the re-added name")

    // Bucket key and part column cannot drop.
    intercept[InvalidConfig] { IcebergishTable.dropColumn(t, "k") }
    intercept[InvalidConfig] {
      IcebergishTable.dropColumn(t, IcebergishTable.PartCol)
    }
  }

  test("partition overwrite: concurrent append conflicts typed; time travel survives") {
    import spark.implicits._
    val t = freshTable("graft-ovw")
    IcebergishTable.write(
      (0 until 40).map(i => (s"k$i", i.toLong)).toDF("k", "v"), t, "k", 4)
    val s0 = IcebergishTable.currentSnapshot(t)
    val rows0 = IcebergishTable.read(spark, t).count()

    // A partition overwrite replacing bucket contents…
    val repl = (0 until 40).map(i => (s"k$i", i.toLong * 10)).toDF("k", "v")
      .withColumn(IcebergishTable.PartCol, IcebergishTable.partExpr("k", 4))
      .repartition(4, col(IcebergishTable.PartCol))
    IcebergishTable.writePrePartitioned(repl, t, 4, "k",
      replaceParts = 0 until 4)
    assert(IcebergishTable.read(spark, t).agg(sum("v")).as[Long].head() ==
      (0 until 40).map(_ * 10L).sum)
    // …keeps the replaced era time-traveling (files tombstoned, not wiped).
    assert(IcebergishTable.readSnapshot(spark, t, s0).count() == rows0)
    assert(IcebergishTable.readSnapshot(spark, t, s0)
      .agg(sum("v")).as[Long].head() == (0 until 40).map(_.toLong).sum)

    // withCommitRetry: a conflicting body retries and converges.
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = IcebergishTable.withCommitRetry(attempts = 4, backoffMs = 1) {
      if (attempts.incrementAndGet() < 3)
        throw new CommitConflict(t, 0, 1)
      "converged"
    }
    assert(out == "converged" && attempts.get() == 3)
    // Exhausted retries rethrow the typed conflict.
    intercept[CommitConflict] {
      IcebergishTable.withCommitRetry(attempts = 2, backoffMs = 1) {
        throw new CommitConflict(t, 0, 1)
      }
    }
  }

  test("rebucket: partition-spec evolution preserves rows, history, and gates") {
    import spark.implicits._
    val t = freshTable("graft-rebucket")
    IcebergishTable.write(
      (0 until 120).map(i => (s"k$i", s"w${i % 5}", i.toLong))
        .toDF("k", "w", "v"), t, "k", 4)
    val s0 = IcebergishTable.currentSnapshot(t)

    IcebergishTable.rebucket(spark, t, "w", 8)

    // Rows identical; spec evolved; the new layout really is by w.
    assert(IcebergishTable.bucketSpecOf(t).contains(("w", 8)))
    assert(IcebergishTable.read(spark, t).count() == 120)
    assert(IcebergishTable.read(spark, t).agg(sum("v")).as[Long].head() ==
      (0 until 120).map(_.toLong).sum)
    val cur = IcebergishTable.currentSnapshot(t)
    val byBucket = IcebergishTable.read(spark, t)
      .groupBy(col(IcebergishTable.PartCol), col("w")).count()
      .select("w", IcebergishTable.PartCol)
      .as[(String, Int)].collect().groupBy(_._1).view.mapValues(_.map(_._2).distinct)
    assert(byBucket.values.forall(_.length == 1), "a w value spans buckets")

    // Era metadata: the old snapshot still reads under the OLD spec.
    assert(IcebergishTable.manifestMetaAt(t, s0)._2.contains(("k", 4)))
    assert(IcebergishTable.readSnapshot(spark, t, s0).count() == 120)
    // The catalog reports the NEW transform.
    val tbl = new graft.sources.v2.GraftTable("t", t)
    assert(tbl.partitioning().head.toString.contains("w"))

    // Appends: new spec accepted, old spec rejected typed.
    IcebergishTable.write(Seq(("kx", "w9", 1000L)).toDF("k", "w", "v"),
      t, "w", 8, org.apache.spark.sql.SaveMode.Append)
    assert(IcebergishTable.read(spark, t).count() == 121)
    intercept[BucketSpecMismatch] {
      IcebergishTable.write(Seq(("ky", "w9", 1L)).toDF("k", "w", "v"),
        t, "k", 4, org.apache.spark.sql.SaveMode.Append)
    }
    // Field ids survived the rewrite: rename still works afterwards.
    IcebergishTable.renameColumn(t, "v", "val")
    assert(IcebergishTable.read(spark, t).agg(sum("val")).as[Long].head() ==
      (0 until 120).map(_.toLong).sum + 1000L)
    // Expiry reclaims the old layout's files.
    IcebergishTable.expireSnapshots(t, keepLast = 1)
    intercept[SnapshotNotFound] {
      IcebergishTable.readSnapshot(spark, t, s0).count()
    }
  }

  test("renamed table round-trips through the fused KG write path") {
    import spark.implicits._
    // The hot-path sinks (writePrePartitioned) must produce id-annotated
    // files too: rename a column on a table written by the fused path.
    val t = freshTable("graft-hotpath-ids")
    val df = (0 until 30).map(i => (s"s$i", s"p", s"o$i")).toDF("subj", "pred", "obj")
      .withColumn(IcebergishTable.PartCol, IcebergishTable.partExpr("subj", 4))
      .repartition(4, col(IcebergishTable.PartCol))
    IcebergishTable.writePrePartitioned(df, t, 4, "subj")
    IcebergishTable.renameColumn(t, "obj", "object")
    assert(IcebergishTable.read(spark, t).select("object").count() == 30)
    assert(IcebergishTable.read(spark, t)
      .where(col("object") === "o7").count() == 1)
  }
}
