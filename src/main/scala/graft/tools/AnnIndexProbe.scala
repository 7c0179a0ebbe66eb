package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Phase decomposition of the disk-indexed ANN queries (ann_lsh_indexed /
  * ann_lsh_full_probe / ann_knn_join): these build a fresh bucket-partitioned
  * index per invocation, so the timed cost is bucket-map + partitioned write
  * + partition discovery + probe scan. This tool times each phase separately
  * (guide §1.4 — isolate the computation) and counts the files written, so a
  * regression can be pinned to the write commit, the listing, or the scan.
  *
  * usage: runMain graft.tools.AnnIndexProbe [reps]
  */
object AnnIndexProbe {

  private def timed[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"  $label%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-ann-index-probe")
      .config("spark.sql.shuffle.partitions", (cpus * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", (8 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    emb.count() // warm the scan

    (1 to reps).foreach { rep =>
      println(s"rep $rep")
      val base = java.nio.file.Files.createTempDirectory("graft-annprobe")
      try {
        val path = base.toString + "/index"
        timed("lshBuckets count") {
          graft.ops.Ann.lshBuckets(emb, "vec_id", "embedding").count()
        }
        timed("writeLshIndex") {
          graft.ops.Ann.writeLshIndex(emb, "vec_id", "embedding", path)
        }
        val pathIvf = base.toString + "/ivfindex"
        timed("writeIvfIndex (8 cells)") {
          graft.ops.Ann.writeIvfIndex(emb, "vec_id", "embedding", pathIvf,
            nCells = 8)
        }
        val files = {
          val d = new java.io.File(path)
          def walk(f: java.io.File): Int =
            if (f.isDirectory)
              Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
            else if (f.getName.endsWith(".parquet")) 1 else 0
          walk(d)
        }
        println(s"  files written              $files")
        timed("read+count (discovery+scan)") {
          spark.read.parquet(path).count()
        }
        timed("read+count again (relist)") {
          spark.read.parquet(path).count()
        }
        timed("lshTopKIndexed multiprobe") {
          graft.ops.Ann.lshTopKIndexed(spark, path, queryId = 0L, k = 10).count()
        }
        timed("lshTopKIndexed fullProbe") {
          graft.ops.Ann
            .lshTopKIndexed(spark, path, queryId = 0L, k = 10, fullProbe = true)
            .count()
        }
        timed("knnJoin fullProbe (8 q)") {
          graft.ops.Ann.knnJoin(emb.where(col("vec_id") < 8), "vec_id",
            "embedding", path, k = 5, fullProbe = true).count()
        }
      } finally org.apache.commons.io.FileUtils.deleteDirectory(base.toFile)
    }
    spark.stop()
  }
}
