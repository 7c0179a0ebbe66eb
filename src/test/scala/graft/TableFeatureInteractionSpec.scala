package graft

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.io.{IcebergishTable, Manifest}

/** Feature INTERACTIONS on one table: zone maps × column rename × MOR
  * deletes × partition-spec evolution × compaction — the places where
  * independent table-format features corrupt each other if their
  * metadata assumptions drift.
  */
class TableFeatureInteractionSpec extends SparkSpec {

  /** The files a read of `t` filtered on `c` plans. */
  private def planned(t: String, c: org.apache.spark.sql.Column): Seq[String] =
    plannedFiles(IcebergishTable.read(spark, t).where(c))

  test("rename → zone maps re-key with the field: exact for BOTH eras") {
    import spark.implicits._
    val t = specDir("graft-ix1").resolve("t").toString
    // Era 1 under the ORIGINAL column name.
    IcebergishTable.write((0 until 40).map(i => (s"k$i", i.toLong))
      .toDF("k", "v"), t, "k", 4)
    IcebergishTable.renameColumn(t, "v", "value")
    // Era 2 appends under the NEW name (stats recorded under "value").
    IcebergishTable.write((0 until 40).map(i => (s"k$i", 1000L + i))
      .toDF("k", "value"), t, "k", 4, SaveMode.Append)

    val all = Manifest.read(t, IcebergishTable.currentSnapshot(t)).paths
    val cand = planned(t, col("value") >= 1000L)
    // Stats follow the FIELD through the rename (the rename commit re-keys
    // carried-forward entries v → value), so era-1 files — whose values
    // under field-id resolution ARE column `value`, max 39 — prune exactly:
    // only the 4 era-2 files survive. Before the re-key (ADVICE r5 high),
    // a later DROP+reuse of the name could consult stale bounds; now the
    // entry is keyed by the live field's current name, never a dead one.
    assert(cand.size == all.size / 2 && cand.toSet.subsetOf(all.toSet),
      s"rename broke exact re-keyed pruning: ${cand.size} of ${all.size}")
    // A predicate matching NOTHING prunes both eras.
    val none = planned(t, col("value") >= 5000L)
    assert(none.isEmpty, "post-rename stats failed to prune either era")
    // An era-1-only predicate keeps era-1 reachable (no over-pruning).
    val era1 = planned(t, col("value") < 40L)
    assert(era1.size == all.size / 2, "era-1 files over-pruned post-rename")
    // Correctness through the full read regardless of pruning:
    assert(IcebergishTable.read(spark, t).where(col("value") >= 1000L)
      .count() == 40)
    assert(IcebergishTable.read(spark, t).where(col("value") < 40L)
      .count() == 40)
  }

  test("drop then re-add of the same name: no stale-stats over-pruning") {
    import spark.implicits._
    val t = specDir("graft-ix1b").resolve("t").toString
    // x has SMALL values; its per-file stats bound [0, 39].
    IcebergishTable.write((0 until 40).map(i => (s"k$i", i.toLong, 500L + i))
      .toDF("k", "x", "y"), t, "k", 4)
    // DROP x, then RENAME y TO x — the classic aliasing trap (ADVICE r5
    // high): without the drop/rename re-key, old files' x-entries
    // ([0,39]) would be consulted for predicates on the NEW x (whose
    // values resolve from y via field ids: [500,539]) and prune files
    // that DO match.
    IcebergishTable.dropColumn(t, "x")
    IcebergishTable.renameColumn(t, "y", "x")
    val all = Manifest.read(t, IcebergishTable.currentSnapshot(t)).paths
    val cand = planned(t, col("x") >= 500L)
    assert(cand.size == all.size,
      s"stale dropped-column stats over-pruned: ${cand.size} of ${all.size}")
    // And the stats are not merely conservative — they are EXACT for the
    // surviving field: a miss predicate prunes everything.
    assert(planned(t, col("x") >= 5000L).isEmpty)
    // Full-read correctness: by-name parquet pushdown on the reused name
    // would consult the DEAD x's row-group stats ([0,39]) and prune every
    // group — the ghost list suppresses pushdown for exactly this table.
    assert(IcebergishTable.read(spark, t).where(col("x") >= 500L)
      .count() == 40)
    assert(IcebergishTable.read(spark, t).where(col("x") >= 520L)
      .count() == 20)
    // Compact rewrites every file under the current schema → ghosts reset,
    // pushdown-enabled reads return, results unchanged.
    IcebergishTable.compact(spark, t, 4)
    assert(Manifest.read(
      t, IcebergishTable.currentSnapshot(t)).ghosts.isEmpty,
      "replace-all must clear the ghost list")
    assert(IcebergishTable.read(spark, t).where(col("x") >= 500L)
      .count() == 40)
  }

  test("MOR delete → rename → rebucket → compact: rows exact at every step") {
    import spark.implicits._
    val t = specDir("graft-ix2").resolve("t").toString
    IcebergishTable.write(
      (0 until 100).map(i => (s"k$i", s"g${i % 3}", i.toLong))
        .toDF("k", "g", "v"), t, "k", 4)

    // 1. MOR delete (tombstone, no file rewritten).
    assert(IcebergishTable.deleteWhere(spark, t,
      col("v").isin(5L, 50L, 95L), morMaxRows = 10L) == 3L)
    assert(IcebergishTable.read(spark, t).count() == 97)

    // 2. Rename a column while tombstones are live — the tombstone
    // references (file, ordinal), not names, so it must keep applying.
    IcebergishTable.renameColumn(t, "v", "value")
    assert(IcebergishTable.read(spark, t).count() == 97)
    assert(IcebergishTable.read(spark, t)
      .where(col("value") === 50L).count() == 0)

    // 3. Rebucket to the other key — rewrites every row, folds tombstones
    // (replace-all drops the delete list) and keeps the rename.
    IcebergishTable.rebucket(spark, t, "g", 8)
    val cur = IcebergishTable.currentSnapshot(t)
    assert(Manifest.read(t, cur).deletes.map(_.path).isEmpty)
    assert(IcebergishTable.read(spark, t).count() == 97)
    assert(IcebergishTable.read(spark, t).agg(sum("value")).as[Long].head() ==
      (0 until 100).map(_.toLong).sum - 5L - 50L - 95L)
    assert(IcebergishTable.bucketSpecOf(t).contains(("g", 8)))

    // 4. Another MOR delete + a MOR merge on the NEW layout, then compact.
    assert(IcebergishTable.deleteWhere(spark, t, col("value") === 7L,
      morMaxRows = 5L) == 1L)
    IcebergishTable.mergeRows(t,
      Seq(("kNew", "g1", 7777L)).toDF("k", "g", "value"),
      Seq("k"), morMaxRows = 5L)
    assert(IcebergishTable.read(spark, t).count() == 97)
    IcebergishTable.compact(spark, t, 8, "g")
    assert(IcebergishTable.read(spark, t).count() == 97)
    assert(IcebergishTable.read(spark, t)
      .where(col("k") === "kNew").select("value").as[Long].head() == 7777L)
    // Zone maps on the compacted files are live for the renamed column.
    val snap = IcebergishTable.currentSnapshot(t)
    val stats = Manifest.read(t, snap).files.map(_.stats)
    assert(stats.nonEmpty && stats.exists(_.contains("value")))
  }
}
