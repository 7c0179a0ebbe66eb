package graft.perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.synth.Rng

final case class DocRow(doc_id: Long, text: String, lang: String,
                        source: String, n_chars: Long)
final case class EmbRow(vec_id: Long, embedding: Array[Float], label: Int)
final case class OrderRow(o_orderkey: Long, o_custkey: Long,
                          o_orderstatus: String, o_totalprice: Double,
                          o_orderdate: Timestamp, o_orderpriority: String)
final case class LineRow(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
                         l_linenumber: Int, l_quantity: Double,
                         l_extendedprice: Double, l_discount: Double,
                         l_tax: Double, l_returnflag: String,
                         l_linestatus: String, l_shipdate: Timestamp)

/** Seeded generator of the tables the traced `SparkEntry.queries` read
  * (documents, embeddings, orders, lineitem), with the column names and types
  * of the TPC-H-style test tables. Every row is a pure function of
  * (seed, table, row id). Documents plant exact and near duplicates so the
  * dedup operators have pairs to find; embeddings cluster around eight
  * centroids so the ANN operators have neighbours to rank.
  */
object QueryData {
  val Docs = 2000L
  val Vecs = 2000L
  val Customers = 1500L
  val Orders = 15000L
  val Lines = 60000L
  val Dim = 64

  private val words = Vector("key", "agg", "row", "scan", "slow", "fast",
    "table", "value", "part", "hash", "merge", "batch", "spark", "a", "the",
    "line", "sort", "window", "order", "data", "column", "join", "small",
    "customer", "query", "big", "filter", "group", "stream", "vector")
  private val langs = Vector("en", "en", "en", "de", "fr", "es", "zh")
  private val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")

  private def textOf(seed: Long, i: Long): String = {
    val n = 8 + Rng.nextInt(seed, i, 1, 80)
    (0 until n).map(w => words(Rng.nextInt(seed, i, 100 + w, words.size)))
      .mkString(" ")
  }

  /** Document `i`: every 17th repeats the previous text exactly, every 13th
    * repeats the text two back with its last words replaced.
    */
  def doc(seed: Long, i: Long): DocRow = {
    val text =
      if (i % 17 == 5) textOf(seed, i - 1)
      else if (i % 13 == 7) {
        val base = textOf(seed, i - 2).split(' ')
        val keep = math.max(1, base.length - 1 - base.length / 10)
        (base.take(keep) ++ Seq("stream", "update")).mkString(" ")
      } else textOf(seed, i)
    DocRow(i, text, langs(Rng.nextInt(seed, i, 2, langs.size)),
      s"src${i % 20}", text.length.toLong)
  }

  def emb(seed: Long, i: Long): EmbRow = {
    val label = (i % 8).toInt
    val v = Array.tabulate(Dim) { d =>
      val centre = Rng.nextDouble(seed ^ 0x5eedL, label, d) * 2 - 1
      val noise = Rng.nextDouble(seed, i, 1000 + d) - 0.5
      (centre + 0.6 * noise).toFloat
    }
    EmbRow(i, v, label)
  }

  private def ts(seed: Long, i: Long, j: Long): Timestamp =
    new Timestamp(694224000000L + Rng.nextInt(seed, i, j, 2400) * 86400000L)

  /** Writes the four tables as `<dir>/<name>.parquet`. */
  def write(spark: SparkSession, seed: Long, dir: String, parts: Int): Unit = {
    import spark.implicits._
    def out(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    out(spark.range(0L, Docs, 1L, parts).map(i => doc(seed, i)).toDF, "documents")
    out(spark.range(0L, Vecs, 1L, parts).map(i => emb(seed, i)).toDF, "embeddings")
    out(spark.range(0L, Orders, 1L, parts).map { i =>
      OrderRow(i, Rng.nextInt(seed, i, 6, Customers.toInt).toLong,
        if (Rng.nextInt(seed, i, 7, 2) == 0) "O" else "F",
        Rng.nextInt(seed, i, 8, 50000000) / 100.0 + 900.0, ts(seed, i, 9),
        priorities(Rng.nextInt(seed, i, 10, priorities.size)))
    }.toDF, "orders")
    out(spark.range(0L, Lines, 1L, parts).map { i =>
      val qty = 1 + Rng.nextInt(seed, i, 11, 50)
      LineRow(Rng.nextInt(seed, i, 12, Orders.toInt).toLong,
        Rng.nextInt(seed, i, 13, 20000).toLong,
        Rng.nextInt(seed, i, 14, 1000).toLong, (i % 7).toInt + 1,
        qty.toDouble, qty * (900 + Rng.nextInt(seed, i, 15, 100000) / 100.0),
        Rng.nextInt(seed, i, 16, 11) / 100.0,
        Rng.nextInt(seed, i, 17, 9) / 100.0,
        Seq("A", "N", "R")(Rng.nextInt(seed, i, 18, 3)),
        if (Rng.nextInt(seed, i, 19, 2) == 0) "O" else "F", ts(seed, i, 20))
    }.toDF, "lineitem")
  }

  /** Expected row count of each query whose result size follows from the
    * generated tables alone, computed with plain Spark aggregates
    * independently of the operators under test.
    */
  def expectedCounts(spark: SparkSession, dir: String): Map[String, Long] = {
    def t(n: String) = spark.read.parquet(s"$dir/$n.parquet")
    val docs = t("documents")
    Map(
      "q_join_sortmerge" -> t("lineitem").join(t("orders"),
        col("l_orderkey") === col("o_orderkey"))
        .select("o_orderpriority").distinct().count(),
      "dedup_exact" -> docs.select("text").distinct().count(),
      "text_quality" -> docs.count())
  }
}
