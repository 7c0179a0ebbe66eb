package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.{Ann, GraphCatalog, OpenSchema, SaltedJoin}

/** Round-2 operator additions: open-schema mode, the generalized named/
  * custom graph catalog, the disk-partitioned ANN index, and the planted-hub
  * skew demonstration.
  */
class OpenCatalogSpec extends SparkSpec {

  test("open-schema round-trip: props map reprojects to the original typed columns") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val open = OpenSchema.allAttributes(docs, "doc_id")
    val got = open.select(col("doc_id"), OpenSchema.prop("lang"),
        OpenSchema.prop("n_chars", "long"))
      .as[(Long, String, Long)].collect().toSet
    val want = docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .as[(Long, String, Long)].collect().toSet
    assert(got == want && got.nonEmpty)
    // Narrow: the whole round-trip plans without any exchange.
    val plan = open.select(col("doc_id"), OpenSchema.prop("lang"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // Null attributes are dropped from the map (schemaless shape).
    val withNull = Seq((1L, "a", null: String), (2L, "b", "x"))
      .toDF("id", "keep", "maybe")
    val props = OpenSchema.allAttributes(withNull, "id")
      .select(col("id"), map_keys(col("props")).as("ks"))
      .as[(Long, Seq[String])].collect().toMap
    assert(props(1L).toSet == Set("keep"))
    assert(props(2L).toSet == Set("keep", "maybe"))
  }

  test("named/custom graph catalog derives collection lists from arbitrary definition tables") {
    import spark.implicits._
    val catalog = Seq(
      ("social", "follows", Seq("people"), Seq("people")),
      ("social", "posted", Seq("people"), Seq("posts")),
      ("retail", "bought", Seq("customers"), Seq("items"))
    ).toDF("graph", "collection", "from", "to")
    val social = GraphCatalog.named(catalog, "social")
    assert(social.edgeCollections == Seq("follows", "posted"))
    assert(social.vertexCollections == Seq("people", "posts"))
    val retail = GraphCatalog.named(catalog, "retail")
    assert(retail.vertexCollections == Seq("customers", "items"))
    intercept[GraphNotInCatalog] {
      GraphCatalog.named(catalog, "nope")
    }
    val custom = GraphCatalog.custom(
      Seq(("e1", Seq("b", "a"), Seq("c", "a"))).toDF("collection", "from", "to"))
    assert(custom.vertexCollections == Seq("a", "b", "c")) // sorted, deduped
  }

  test("disk-partitioned LSH index: probe equals in-memory lshTopK and prunes partitions") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val path = specDir("graft-annidx-spec").toString + "/idx"
    Ann.writeLshIndex(emb, "vec_id", "embedding", path)
    val indexed = Ann.lshTopKIndexed(spark, path, queryId = 0L, k = 10)
    val inMem = Ann.lshTopK(emb, "vec_id", "embedding", queryId = 0L, k = 10)
    assert(indexed.as[(Long, Double)].collect().toSeq ==
      inMem.as[(Long, Double)].collect().toSeq)
    // The probe scan must carry partition filters on the bucket directory
    // column — storage-level pruning, not a post-scan filter.
    val plan = indexed.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(l => l.contains("PartitionFilters") && l.contains("bucket"))
    assert(scanLine.exists(!_.contains("PartitionFilters: []")),
      "bucket probe is not partition-pruned:\n" + plan)
  }

  test("IVF ANN: full probe equals brute force; pruned probe keeps recall") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Ann.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .as[(Long, Double)].collect().toSeq
    // nProbe == nCells ⇒ probe set is everything ⇒ identical to brute.
    val full = Ann.ivfTopK(emb, "vec_id", "embedding", 0L, 10,
      nCells = 8, nProbe = 8).as[(Long, Double)].collect().toSeq
    assert(full == exact)
    // Pruned probe: recall vs brute on the same k.
    val pruned = Ann.ivfTopK(emb, "vec_id", "embedding", 0L, 10,
      nCells = 8, nProbe = 3).as[(Long, Double)].collect().map(_._1).toSet
    val recall = (pruned intersect exact.map(_._1).toSet).size / 10.0
    assert(recall >= 0.6, s"IVF recall too low: $recall")
    // Determinism: same parameters, same result.
    val again = Ann.ivfTopK(emb, "vec_id", "embedding", 0L, 10,
      nCells = 8, nProbe = 3).as[(Long, Double)].collect().map(_._1).toSet
    assert(again == pruned)
  }

  test("planted 50%-hub skew: salting bounds the per-partition row maximum") {
    import spark.implicits._
    val big = spark.range(0, 100000L).select(
      when(col("id") % 2 === 0, lit("HUB"))
        .otherwise(concat(lit("k"), col("id") % 100)).as("key"),
      col("id").as("v"))
    val dim = spark.range(0, 100L)
      .select(concat(lit("k"), col("id")).as("key"), col("id").as("grp"))
      .union(Seq(("HUB", -1L)).toDF("key", "grp"))

    // Result equivalence (also oracle-checked in q_skew_salted).
    val plain = big.join(dim, "key").groupBy("grp").count()
      .as[(Long, Long)].collect().toMap
    val salted = SaltedJoin.inner(big, dim, "key", salt = 16)
      .groupBy("grp").count().as[(Long, Long)].collect().toMap
    assert(salted == plain)
    assert(plain(-1L) == 50000L) // the hub really is half the input

    // Distribution: per-(key, salt) group sizes bound what any reducer sees
    // for the hot key — ~1/16 of the hub vs all 50k rows unsalted.
    val saltCounts = big.withColumn("_salt",
        pmod(xxhash64(struct(big.columns.map(col).toIndexedSeq: _*)), lit(16))
          .cast("int"))
      .where(col("key") === "HUB")
      .groupBy("_salt").count().as[(Int, Long)].collect()
    assert(saltCounts.length == 16, "hub rows must scatter over all salts")
    val maxSlice = saltCounts.map(_._2).max
    assert(maxSlice < 50000L / 16 * 1.3,
      s"salted hub slice too large: $maxSlice (unsalted would be 50000)")
  }
}
