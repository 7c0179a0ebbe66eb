package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._

import graft.io.{IcebergishTable, Manifest, TableFileWriter, TableWrite, WrittenFile}

/** The stage-and-commit funnel: a table write whose commit is refused
  * leaves the table's `data/` and `deletes/` exactly as the winning
  * writer left them, and a stream epoch that commits nothing leaves them
  * as they were.
  */
class CommitFunnelSpec extends SparkSpec {

  /** Every file under `data/` and `deletes/`, relative to the table. */
  private def files(table: String): Set[String] = {
    val root = Paths.get(table)
    Seq("data", "deletes").map(root.resolve).filter(Files.exists(_)).flatMap { d =>
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString).toList
      finally s.close()
    }.toSet
  }

  /** A 4-bucket table of 40 rows, and a copy of one of its data files
    * under a new name: the competing writer's file, not yet committed.
    */
  private def tableWithWinner(prefix: String): (String, String) = {
    import spark.implicits._
    val table = specDir(prefix).toString + "/t"
    IcebergishTable.write((0 until 40).map(i => (s"k$i", i.toLong)).toDF("k", "v"),
      table, "k", 4)
    val seed = Manifest.read(table, IcebergishTable.currentSnapshot(table)).paths.head
    val winner = s"data/part=${IcebergishTable.bucketOfPath(seed)}/winner.parquet"
    Files.copy(Paths.get(table, seed), Paths.get(table, winner))
    (table, winner)
  }

  test("a compact that loses to an append committed mid-write raises CommitConflict and leaves no file") {
    val (table, winner) = tableWithWinner("graft-funnel-compact")
    val before = files(table) - winner
    // The competing append commits while compact's write is being planned:
    // after compact pinned its snapshot, before its files are staged.
    val competing = new Rule[LogicalPlan] {
      override def apply(plan: LogicalPlan): LogicalPlan = {
        plan match {
          case w: TableWrite if w.table == table => CommitFunnelSpec.commitOnce(table, winner)
          case _ =>
        }
        plan
      }
    }
    val x = spark.experimental
    val prior = x.extraOptimizations
    x.extraOptimizations = competing +: prior
    try intercept[CommitConflict](IcebergishTable.compact(spark, table, 4))
    finally x.extraOptimizations = prior
    assert(IcebergishTable.currentSnapshot(table) == CommitFunnelSpec.committed(table))
    assert(files(table) == before + winner, s"left behind: ${files(table) -- before - winner}")
    assert(IcebergishTable.read(spark, table).count() ==
      40 + spark.read.parquet(Paths.get(table, winner).toString).count())
  }

  test("a MOR deleteWhere refused the same way raises CommitConflict and leaves no file") {
    val (table, winner) = tableWithWinner("graft-funnel-mor")
    val before = files(table) - winner
    // The competing append commits from the predicate's first evaluation,
    // inside the delete's scan: after the snapshot pin, before the commit.
    val tap = udf { (k: String) => CommitFunnelSpec.commitOnce(table, winner); k }
    intercept[CommitConflict] {
      IcebergishTable.deleteWhere(spark, table, tap(col("k")) === "k3", morMaxRows = 100L)
    }
    assert(IcebergishTable.currentSnapshot(table) == CommitFunnelSpec.committed(table))
    assert(files(table) == before + winner, s"left behind: ${files(table) -- before - winner}")
    assert(IcebergishTable.read(spark, table).where(col("k") === "k3").count() >= 1,
      "the refused delete took effect")
  }

  test("a replayed or empty stream epoch commits no snapshot and leaves no staged file, for both sinks") {
    import spark.implicits._
    val (table, _) = tableWithWinner("graft-funnel-epochs")
    def batch(keys: Seq[String]) = keys.map(k => (k, 1L)).toDF("k", "v")
      .withColumn(IcebergishTable.PartCol, IcebergishTable.partExpr("k", 4))
    assert(IcebergishTable.appendPrePartitioned(batch(Seq("x1", "x2")), table, 4, "k", "q", 1L) == 2L)
    val before = files(table)
    val snap = IcebergishTable.currentSnapshot(table)
    def unchanged(what: String): Unit = {
      assert(IcebergishTable.currentSnapshot(table) == snap, s"$what committed a snapshot")
      assert(files(table) == before, s"$what left: ${files(table) -- before}")
      assert(!Files.exists(Paths.get(table, "data", "_staging")), s"$what left a staging tree")
      assert(IcebergishTable.streamEpoch(table, "q") == Some(1L))
    }
    // foreachBatch sink: a replay that reaches the commit, then an empty batch.
    assert(IcebergishTable.appendPrePartitioned(batch(Seq("x3")), table, 4, "k", "q", 1L) == 0L)
    unchanged("a replayed foreachBatch epoch")
    assert(IcebergishTable.appendPrePartitioned(batch(Seq.empty), table, 4, "k", "q", 2L) == 0L)
    unchanged("an empty foreachBatch epoch")
    // DSv2 sink: a replayed epoch's staged file, then an epoch with no file.
    val seed = Manifest.read(table, snap).paths.head
    val bucket = IcebergishTable.bucketOfPath(seed)
    val staged = s"${TableFileWriter.staging("replay")}/part=$bucket/part-00000-replay-0.parquet"
    Files.createDirectories(Paths.get(table, staged).getParent)
    Files.copy(Paths.get(table, seed), Paths.get(table, staged))
    IcebergishTable.appendStaged(table, "replay", Seq(WrittenFile(bucket, staged)), "q", 1L)
    unchanged("a replayed DSv2 epoch")
    IcebergishTable.appendStaged(table, "empty", Seq.empty, "q", 2L)
    unchanged("an empty DSv2 epoch")
    assert(IcebergishTable.read(spark, table).count() == 42)
  }
}

object CommitFunnelSpec {
  /** Snapshot each table's competing commit made. A JVM-wide map, not a
    * field: the predicate's closure is deserialized once per task.
    */
  private val winners = new ConcurrentHashMap[String, Integer]()

  /** Commit `file` into `table` once, however often this is called. */
  def commitOnce(table: String, file: String): Unit =
    winners.computeIfAbsent(table, _ => IcebergishTable.commitAddedFiles(table, Seq(file)))

  def committed(table: String): Int = winners.get(table)
}
