package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Ann
import graft.synth.Rng

/** The search contract of `ops.Ann`'s top-k entries: none leaves a
  * persisted frame behind, and a single-query top-k answers exactly what
  * the batch join over the same index answers for that query, rows and rank
  * order both.
  */
class AnnSearchSpec extends SparkSpec {

  /** 200 random 16-d embeddings; queries 0..2 each get 5 planted
    * near-neighbors, so every probe set holds more than k candidates.
    */
  private lazy val emb: DataFrame = {
    val s = spark
    import s.implicits._
    def vec(i: Long): Array[Float] =
      Array.tabulate(16)(d => (Rng.nextDouble(31L, i, d.toLong) * 2 - 1).toFloat)
    def near(q: Array[Float], i: Long): Array[Float] =
      q.zipWithIndex.map { case (x, d) =>
        x + 0.1f * (Rng.nextDouble(37L, i, d.toLong) * 2 - 1).toFloat
      }
    val queries = (0L until 3L).map(i => (i, vec(i)))
    val planted = queries.flatMap { case (qid, qv) =>
      (0L until 5L).map(j => (500L + qid * 10 + j, near(qv, qid * 10 + j)))
    }
    (queries ++ planted ++ (100L until 292L).map(i => (i, vec(i))))
      .toDF("vec_id", "embedding")
  }

  private val queryIds = Seq(0L, 1L, 2L, 120L)
  private val k = 6

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.select(col("vec_id"), col("cosine")).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** One query's rows of a batch join, in rank order. */
  private def batchRows(joined: DataFrame, qid: Long): Seq[(Long, Double)] = {
    val mine = joined.where(col("query_id") === qid).orderBy(col("rank"))
    assert(mine.select(col("rank")).collect().map(_.getInt(0)).toSeq == (1 to k))
    rows(mine)
  }

  private def sameAsBatch(name: String, single: Long => DataFrame,
                          batch: DataFrame): Unit = {
    val joined = batch.cache()
    try queryIds.foreach { qid =>
      val one = rows(single(qid))
      assert(one.size == k, s"$name: degenerate fixture for query $qid")
      assert(one == batchRows(joined, qid), s"$name: query $qid")
    } finally joined.unpersist()
  }

  private def queries: DataFrame = emb.where(col("vec_id").isin(queryIds: _*))

  test("no top-k entry leaves a persisted frame in the cache manager") {
    val cache = spark.sharedState.cacheManager
    val lshPath = specDir("graft-annsearch-lsh").toString + "/index"
    val ivfPath = specDir("graft-annsearch-ivf").toString + "/index"
    Ann.writeLshIndex(emb, "vec_id", "embedding", lshPath, nBits = 6)
    Ann.writeIvfIndex(emb, "vec_id", "embedding", ivfPath, nCells = 8)
    val entries: Seq[(String, () => DataFrame)] = Seq(
      "bruteForceTopK" -> (() => Ann.bruteForceTopK(emb, "vec_id", "embedding", 0L, k)),
      "lshTopK" -> (() => Ann.lshTopK(emb, "vec_id", "embedding", 0L, k, nBits = 6)),
      "lshTopKIndexed" -> (() => Ann.lshTopKIndexed(spark, lshPath, 0L, k, nBits = 6)),
      "ivfTopK" -> (() => Ann.ivfTopK(emb, "vec_id", "embedding", 0L, k, nCells = 8)),
      "knnJoin" -> (() => Ann.knnJoin(queries, "vec_id", "embedding", lshPath, k,
        nBits = 6)),
      "ivfKnnJoin" -> (() => Ann.ivfKnnJoin(queries, "vec_id", "embedding", ivfPath, k)))
    entries.foreach { case (name, entry) =>
      spark.catalog.clearCache()
      val out = entry()
      assert(cache.isEmpty, s"$name left a persisted frame on return")
      assert(out.collect().nonEmpty, s"$name returned no rows")
      assert(cache.isEmpty, s"$name left a persisted frame after its collect")
    }
  }

  test("single-query LSH top-k equals the batch join's rows for that query, multiprobe and full probe") {
    val path = specDir("graft-annsearch-lshjoin").toString + "/index"
    Ann.writeLshIndex(emb, "vec_id", "embedding", path, nBits = 6)
    Seq(false, true).foreach { full =>
      sameAsBatch(s"lsh fullProbe=$full",
        qid => Ann.lshTopKIndexed(spark, path, qid, k, nBits = 6, fullProbe = full),
        Ann.knnJoin(queries, "vec_id", "embedding", path, k, nBits = 6,
          fullProbe = full))
    }
  }

  test("single-query IVF top-k equals the batch join's rows for that query, pruned and full probe") {
    val path = specDir("graft-annsearch-ivfjoin").toString + "/index"
    Ann.writeIvfIndex(emb, "vec_id", "embedding", path, nCells = 8, iters = 3)
    Seq(3, 8).foreach { nProbe =>
      sameAsBatch(s"ivf nProbe=$nProbe",
        qid => Ann.ivfTopK(emb, "vec_id", "embedding", qid, k, nCells = 8,
          nProbe = nProbe, iters = 3),
        Ann.ivfKnnJoin(queries, "vec_id", "embedding", path, k, nProbe = nProbe))
    }
  }
}
