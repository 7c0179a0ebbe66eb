package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._

import graft.io.{IcebergishTable, Manifest, TableWrite}

/** The stage-and-commit funnel: a table write whose commit is refused
  * leaves the table's `data/` and `deletes/` exactly as the winning
  * writer left them.
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
    val table = Files.createTempDirectory(prefix).toString + "/t"
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
