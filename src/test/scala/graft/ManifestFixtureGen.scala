package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.io.{IcebergishTable, Manifest}

/** Writes the committed backward-compatibility fixture read by
  * [[ManifestFixtureSpec]]: a small table whose manifest chain carries
  * every optional manifest field, plus the rows, file lists and pruning
  * results the writing commit observed (`expected.tsv`).
  *
  * {{{
  *   sbt "Test/runMain graft.ManifestFixtureGen src/test/resources/manifest-fixture"
  * }}}
  */
object ManifestFixtureGen {

  /** Predicate whose zone-map pruning the fixture records per snapshot. */
  val PrunePredicate = col("v") >= 100L

  def main(args: Array[String]): Unit = {
    val out = Paths.get(args(0))
    val t = out.resolve("table").toString
    IcebergishTable.drop(t)
    val spark = SparkSpec.session
    import spark.implicits._
    val lo = (0 until 8).map(i => (s"k$i", i.toLong, s"w$i", i * 10L))
    val hi = (100 until 108).map(i => (s"k$i", i.toLong, s"w$i", i * 10L))
    IcebergishTable.write(lo.toDF("k", "v", "w", "x"), t, "k", 2)
    IcebergishTable.write(hi.toDF("k", "v", "w", "x"), t, "k", 2,
      SaveMode.Append)
    IcebergishTable.addColumn(t, "y", LongType)
    IcebergishTable.renameColumn(t, "w", "w2")
    IcebergishTable.dropColumn(t, "x")
    IcebergishTable.deleteWhere(spark, t, col("v") === 3L, morMaxRows = 10)
    IcebergishTable.deleteEquality(spark, t, Seq("k105").toDF("k"), Seq("k"))
    // An empty epoch commits nothing: the epoch rides a one-row append.
    IcebergishTable.appendPrePartitioned(Seq(("k200", 200L, "w200", 0L)).toDF("k", "v", "w2", "y")
      .withColumn(IcebergishTable.PartCol, IcebergishTable.partExpr("k", 2)),
      t, 2, "k", "q1", 7L)
    // Committer side files (CRCs, _SUCCESS) are not table state.
    Files.walk(Paths.get(t)).iterator().asScala.toSeq
      .filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".crc") || n == "_SUCCESS"
      }
      .foreach(Files.delete)
    Files.write(out.resolve("expected.tsv"),
      expectations(t).mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()
  }

  /** `kind \t snapshot \t value` lines: each snapshot's file list, its
    * time-travel rows, and the files a scan filtered on [[PrunePredicate]]
    * plans; `current` rows come from a plain read.
    */
  def expectations(t: String): Seq[String] = {
    val spark = SparkSpec.session
    val cur = IcebergishTable.currentSnapshot(t)
    (0 to cur).flatMap { s =>
      val files = Manifest.read(t, s).paths
      val planned = SparkSpec.plannedFiles(IcebergishTable.readSnapshot(spark, t, s)
        .where(PrunePredicate).queryExecution).toSet
      val kept = files.filter(planned)
      files.map(f => s"files\t$s\t$f") ++
        rowsOf(IcebergishTable.readSnapshot(spark, t, s)).map(r => s"rows\t$s\t$r") ++
        kept.map(f => s"prune\t$s\t$f")
    } ++ rowsOf(IcebergishTable.read(spark, t)).map(r => s"current\t$cur\t$r")
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Copy of the fixture table into a scratch directory (reads never touch
    * the checked-in tree).
    */
  def copyTable(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst)
    }
}
