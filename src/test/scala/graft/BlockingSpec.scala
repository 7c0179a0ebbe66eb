package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Ann, Dedup}
import graft.synth.Rng

/** `Blocking.pairs`'s contract, checked through each of the five pair
  * producers built on it: the keyed input it persisted is released once the
  * operator returns, and the returned pairs are materialized, so reading
  * them again neither changes them nor reruns any job over the input.
  */
class BlockingSpec extends SparkSpec {

  /** Docs 0..11 over a small vocabulary, docs 20+i exact copies of doc i. */
  private def docs(): DataFrame = {
    val s = spark
    import s.implicits._
    def doc(i: Long): String =
      (0 until 40).map(k => s"w${Rng.nextInt(7L, i, k.toLong, 30)}").mkString(" ")
    ((0L until 12L).map(i => (i, doc(i))) ++ (20L until 24L).map(i => (i, doc(i - 20))))
      .toDF("doc_id", "text")
  }

  /** Embeddings 0..11, with 20 and 21 copies of 0 and 1. */
  private def embeddings(): DataFrame = {
    val s = spark
    import s.implicits._
    def vec(i: Long): Array[Float] =
      Array.tabulate(8)(d => (Rng.nextDouble(11L, i, d.toLong) * 2 - 1).toFloat)
    ((0L until 12L).map(i => (i, vec(i))) ++ Seq((20L, vec(0)), (21L, vec(1))))
      .toDF("vec_id", "embedding")
  }

  private val operators: Seq[(String, DataFrame => DataFrame)] = Seq(
    "ngramJaccardPairs" -> (d => Dedup.ngramJaccardPairs(d, "doc_id", "text")),
    "minhashLshPairs" -> (d => Dedup.minhashLshPairs(d, "doc_id", "text")),
    "hammingPairs" -> (d => Dedup.simhashPairs(d, "doc_id", "text")),
    "minhashSketchPairs" -> (d => Dedup.minhashSketchPairs(
      Dedup.minhashSketches(d.withColumn("grp", col("doc_id") % 4), "grp", "text"))),
    "cosineLshPairs" -> (e => Ann.cosineLshPairs(e, "vec_id", "embedding", 0.9)))

  test("each pair producer releases its cache and returns pairs that re-read without touching the input") {
    val cache = spark.sharedState.cacheManager
    operators.foreach { case (name, op) =>
      // Every row the operator reads from its input passes the tap.
      val reads = spark.sparkContext.longAccumulator(s"$name-input-rows")
      val tap = udf { () => reads.add(1); true }.asNondeterministic()
      val input = if (name == "cosineLshPairs") embeddings() else docs()
      spark.catalog.clearCache()
      val pairs = op(input.where(tap()))
      assert(cache.isEmpty, s"$name left a persisted frame in the cache manager")
      val readByCall = reads.value
      assert(readByCall > 0, s"$name never read its input")
      val first = pairs.collect().toSeq.map(_.toString).sorted
      val second = pairs.collect().toSeq.map(_.toString).sorted
      assert(first.nonEmpty, s"$name: degenerate fixture, no pairs")
      assert(first == second, s"$name: two collects disagree")
      assert(reads.value == readByCall, s"$name: a collect re-read the input")
    }
  }
}
