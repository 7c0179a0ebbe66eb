package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The query bodies of `SparkEntry.queries` write their tables under one
  * scratch root per session, deleted when the session stops and when the
  * JVM exits. Each case runs a query in a child JVM whose `java.io.tmpdir`
  * is a fresh directory, so the listing shows everything the run left.
  */
class ScratchRootSpec extends AnyFunSuite {

  private def child(tmp: Path, mode: String): Seq[String] = {
    val jvmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Djava.io.tmpdir"))
    val cmd = Seq(System.getProperty("java.home") + "/bin/java") ++ jvmArgs ++
      Seq("-Xmx1g", s"-Djava.io.tmpdir=$tmp", "-cp", System.getProperty("java.class.path"),
        "graft.ScratchRootChild", "kg_eq_delete", mode)
    val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
    assert(p.waitFor(300, TimeUnit.SECONDS) && p.exitValue() == 0, out.takeRight(20).mkString("\n"))
    out
  }

  test("a consumed query leaves no directory once its session stops, nor after its JVM exits") {
    val stopTmp = SparkSpec.specDir("scratchspec-stop")
    val exitTmp = SparkSpec.specDir("scratchspec-exit")
    val out = child(stopTmp, "stop")
    assert(out.exists(_.startsWith("ROWS ")))
    assert(out.filter(_.startsWith("LEFT")) == Seq("LEFT "))
    child(exitTmp, "exit")
    assert(ScratchRootChild.listing(stopTmp).isEmpty)
    assert(ScratchRootChild.listing(exitTmp).isEmpty)
    Files.delete(stopTmp)
    Files.delete(exitTmp)
  }
}

/** Runs one query body and consumes its frame. `stop` then stops the session
  * and prints every file left in a directory of `java.io.tmpdir`; `exit`
  * leaves the
  * session to the JVM's exit.
  */
object ScratchRootChild {
  def listing(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toList.sorted
    finally s.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(query, mode) = args
    val spark = SparkSession.builder()
      .master("local[1]")
      .config("spark.sql.shuffle.partitions", "1")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(s"ROWS ${SparkEntry.queries(query)(spark, "").count()}")
    if (mode == "stop") {
      spark.stop()
      val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
      // Files at the top level are the JVM's native-library copies, gone at
      // exit; a table left behind sits in a directory.
      val files = Files.walk(tmp)
      try println(s"LEFT ${files.iterator().asScala.map(tmp.relativize)
        .filter(p => p.getNameCount > 1 && Files.isRegularFile(tmp.resolve(p))).mkString(",")}")
      finally files.close()
    }
  }
}
