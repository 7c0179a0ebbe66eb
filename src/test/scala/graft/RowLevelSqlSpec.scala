package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.{IcebergishTable, Manifest}

/** SQL DELETE FROM / MERGE INTO over graft catalog tables — rewritten by
  * [[graft.plans.GraftRowLevelSql]] into the engine's COW/MOR machinery,
  * producing the same committed state as the API calls.
  */
class RowLevelSqlSpec extends SparkSpec {

  private lazy val warehouse: String = {
    val w = specDir("graft-rls").toString
    spark.conf.set("spark.sql.catalog.graft_q",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_q.warehouse", w)
    w
  }

  private def seed(name: String, n: Int = 200): String = {
    import spark.implicits._
    val t = s"$warehouse/$name"
    IcebergishTable.write(
      (0 until n).map(i => (s"k$i", i.toLong)).toDF("k", "v"), t, "k", 4)
    t
  }

  test("DELETE FROM with WHERE: small predicate takes the MOR path") {
    val t = seed("del1")
    val files0 = Manifest.read(t,
      IcebergishTable.currentSnapshot(t)).paths
    spark.sql("DELETE FROM graft_q.del1 WHERE v IN (5, 6, 7)")
    // Same committed state as the API call — and the same strategy: data
    // files untouched, a delete entry committed (default morMaxRows 10k).
    val cur = IcebergishTable.currentSnapshot(t)
    assert(Manifest.read(t, cur).paths == files0)
    assert(Manifest.read(t, cur).deletes.map(_.path).size == 1)
    assert(spark.table("graft_q.del1").count() == 197)
    assert(spark.table("graft_q.del1").where(col("v") === 6L).count() == 0)
  }

  test("DELETE FROM above the MOR threshold rewrites buckets (COW)") {
    val t = seed("del2")
    spark.conf.set("spark.graft.delete.morMaxRows", "3")
    try {
      val files0 = Manifest.read(t,
        IcebergishTable.currentSnapshot(t)).paths
      spark.sql("DELETE FROM graft_q.del2 WHERE v < 100")
      val cur = IcebergishTable.currentSnapshot(t)
      assert(Manifest.read(t, cur).paths != files0)
      assert(Manifest.read(t, cur).deletes.map(_.path).isEmpty)
      assert(spark.table("graft_q.del2").count() == 100)
    } finally spark.conf.unset("spark.graft.delete.morMaxRows")
  }

  test("DELETE honors SQL null semantics and complex predicates") {
    val t = seed("del3")
    spark.sql(
      "DELETE FROM graft_q.del3 WHERE (v % 50 = 1 AND k LIKE 'k%') OR v = 199")
    assert(spark.table("graft_q.del3").count() == 195)
    // API and SQL agree on the surviving set.
    assert(IcebergishTable.read(spark, t).count() == 195)
  }

  test("MERGE INTO canonical upsert: SET * / INSERT * through mergeRows") {
    import spark.implicits._
    seed("mrg1")
    Seq(("k5", 5000L), ("knew", 9999L)).toDF("k", "v")
      .createOrReplaceTempView("mrg_src")
    spark.sql(
      """MERGE INTO graft_q.mrg1 t USING mrg_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.table("graft_q.mrg1")
      .where(col("k").isin("k5", "knew"))
      .select("k", "v").as[(String, Long)].collect().toSet
    assert(got == Set(("k5", 5000L), ("knew", 9999L)))
    assert(spark.table("graft_q.mrg1").count() == 201)
  }

  test("MERGE with explicit matching assignments (same shape as star)") {
    import spark.implicits._
    seed("mrg2")
    Seq(("k7", 7777L)).toDF("k", "v").createOrReplaceTempView("mrg_src2")
    spark.sql(
      """MERGE INTO graft_q.mrg2 t USING mrg_src2 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET t.k = s.k, t.v = s.v
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    assert(spark.table("graft_q.mrg2").where(col("k") === "k7")
      .select("v").as[Long].head() == 7777L)
    assert(spark.table("graft_q.mrg2").count() == 200)
  }

  test("non-canonical MERGE shapes and time-travel targets reject typed") {
    import spark.implicits._
    seed("mrg3")
    Seq(("k1", 1L)).toDF("k", "v").createOrReplaceTempView("mrg_src3")
    // Conditional matched clause → unsupported, nothing committed.
    val before = IcebergishTable.currentSnapshot(s"$warehouse/mrg3")
    intercept[UnsupportedOperationException] {
      spark.sql(
        """MERGE INTO graft_q.mrg3 t USING mrg_src3 s ON t.k = s.k
          |WHEN MATCHED AND s.v > 0 THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(IcebergishTable.currentSnapshot(s"$warehouse/mrg3") == before)
  }
}
