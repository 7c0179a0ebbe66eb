package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.IcebergishTable

/** Metadata-only aggregation (DSv2 complete aggregate pushdown):
  * COUNT(*) / MIN / MAX answered from the manifest's per-file row counts
  * and zone maps — zero data files read — with exact fallbacks whenever
  * exactness can't be proven (filters, MOR deletes, missing stats).
  */
class MetaAggSpec extends SparkSpec {

  private lazy val warehouse: String = {
    val dir = specDir("graft-metaagg").toString
    import spark.implicits._
    val rows = spark.range(0, 1000)
      .select(concat(lit("k"), lpad((col("id") % 37).cast("string"), 2, "0")).as("k"),
        col("id").as("v"))
    IcebergishTable.write(rows, s"$dir/t", "k", 8)
    spark.conf.set("spark.sql.catalog.graft_ma",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_ma.warehouse", dir)
    dir
  }

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("count/min/max fully push to the manifest and survive data-dir removal") {
    warehouse
    val agg = spark.sql(
      "SELECT count(*) AS n, min(v) AS mn, max(v) AS mx, min(k) AS mk, max(k) AS xk FROM graft_ma.t")
    assert(plan(agg).contains("GraftMetaAggScan"), plan(agg))
    val r = agg.head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)) ==
      ((1000L, 0L, 999L, "k00", "k36")))

    // THE metadata-only proof: with every data file hidden, the answer
    // still comes back — nothing but the manifest was consulted.
    val dataDir = Paths.get(s"$warehouse/t/data")
    val hidden = Paths.get(s"$warehouse/t/data-hidden")
    Files.move(dataDir, hidden)
    try {
      val r2 = spark.sql(
        "SELECT count(*) AS n, min(v) AS mn, max(v) AS mx FROM graft_ma.t").head()
      assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) == ((1000L, 0L, 999L)))
    } finally Files.move(hidden, dataDir)
  }

  test("bucket-pruned count stays metadata-only and exact") {
    warehouse
    val direct = IcebergishTable.read(spark, s"$warehouse/t")
      .where(col(IcebergishTable.PartCol) === 3).count()
    val agg = spark.sql("SELECT count(*) AS n FROM graft_ma.t WHERE part = 3")
    assert(plan(agg).contains("GraftMetaAggScan"), plan(agg))
    assert(agg.head().getLong(0) == direct && direct > 0)
  }

  test("fallbacks: data filter, group-by, and MOR deletes all run the real scan") {
    warehouse
    // Residual data filter → normal scan, still correct.
    val filtered = spark.sql("SELECT count(*) AS n FROM graft_ma.t WHERE v >= 500")
    assert(!plan(filtered).contains("GraftMetaAggScan"), plan(filtered))
    assert(filtered.head().getLong(0) == 500L)
    // GROUP BY → normal scan.
    val grouped = spark.sql("SELECT k, count(*) FROM graft_ma.t GROUP BY k")
    assert(!plan(grouped).contains("GraftMetaAggScan"), plan(grouped))
    assert(grouped.count() == 37L)

    // A MOR position delete makes file row counts lie about live rows —
    // pushdown must refuse until the table is compacted (COW fold).
    val t = s"$warehouse/t"
    val deleted = IcebergishTable.deleteWhere(spark, t,
      col("v") === 123L, morMaxRows = 100)
    assert(deleted == 1L)
    val afterDel = spark.sql("SELECT count(*) AS n, max(v) AS mx FROM graft_ma.t")
    assert(!plan(afterDel).contains("GraftMetaAggScan"), plan(afterDel))
    assert((afterDel.head().getLong(0), afterDel.head().getLong(1)) == ((999L, 999L)))
    // Compact folds the tombstones into rewritten files: exactness is
    // provable again and the metadata path returns.
    IcebergishTable.compact(spark, t, 8, "k")
    val compacted = spark.sql("SELECT count(*) AS n, min(v) AS mn FROM graft_ma.t")
    assert(plan(compacted).contains("GraftMetaAggScan"), plan(compacted))
    assert((compacted.head().getLong(0), compacted.head().getLong(1)) == ((999L, 0L)))
  }

  test("metadata MIN/MAX follows a rename and refuses ghost-shadowed names") {
    import spark.implicits._
    val dir = specDir("graft-metaagg-ren").toString
    val t = s"$dir/t"
    IcebergishTable.write(
      spark.range(0, 200).select(col("id").cast("string").as("k"), col("id").as("v")),
      t, "k", 4)
    spark.conf.set("spark.sql.catalog.graft_mr",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_mr.warehouse", dir)
    // Rename v -> w: the evolution commit re-keys the carried zone-map
    // entries to the new name, so the metadata path answers min/max(w)
    // from old files' stats without reading them.
    IcebergishTable.renameColumn(t, "v", "w")
    val agg = spark.sql("SELECT count(*) AS n, min(w) AS mn, max(w) AS mx FROM graft_mr.t")
    assert(plan(agg).contains("GraftMetaAggScan"), plan(agg))
    assert((agg.head().getLong(0), agg.head().getLong(1), agg.head().getLong(2)) ==
      ((200L, 0L, 199L)))
    // Re-introduce the DEAD name: old files still physically carry "v"
    // under the dropped binding, so "v" is a ghost — the metadata path
    // must refuse (stale bounds would be consulted otherwise) and the
    // fallback scan must return the re-added column's values (all null).
    IcebergishTable.addColumn(t, "v", org.apache.spark.sql.types.LongType)
    val ghosted = spark.sql("SELECT min(v) AS mn FROM graft_mr.t")
    assert(!plan(ghosted).contains("GraftMetaAggScan"), plan(ghosted))
    assert(ghosted.head().isNullAt(0))
    // The renamed column still answers from metadata alongside.
    val still = spark.sql("SELECT max(w) AS mx FROM graft_mr.t")
    assert(plan(still).contains("GraftMetaAggScan"), plan(still))
    assert(still.head().getLong(0) == 199L)
  }

  test("TIMESTAMP_MILLIS-written files refuse metadata MIN/MAX (unit guard) but COUNT still pushes") {
    import spark.implicits._
    val dir = specDir("graft-metaagg-ms").toString
    val t = s"$dir/t"
    val saved = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try {
      IcebergishTable.write(
        spark.range(0, 100).select(col("id").cast("string").as("k"),
          to_timestamp(lit("2026-01-02 03:04:05")).plus(
            expr("make_interval(0, 0, 0, 0, 0, 0, id)")).as("ts")),
        t, "k", 4)
    } finally spark.conf.set("spark.sql.parquet.outputTimestampType", saved)
    spark.conf.set("spark.sql.catalog.graft_ms",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_ms.warehouse", dir)
    // MIN over a millis-unit column must NOT answer from the manifest —
    // the micros-based decode would return a value 1000x off; the guard
    // records no bounds for the column, so the real scan runs and the
    // answer is exact.
    val mn = spark.sql("SELECT min(ts) AS mn FROM graft_ms.t")
    assert(!plan(mn).contains("GraftMetaAggScan"), plan(mn))
    assert(mn.head().getTimestamp(0).toString.startsWith("2026-01-02 03:04:05"))
    // COUNT(*) doesn't touch the bounds — still metadata-only.
    val n = spark.sql("SELECT count(*) AS n FROM graft_ms.t")
    assert(plan(n).contains("GraftMetaAggScan"), plan(n))
    assert(n.head().getLong(0) == 100L)
  }

  test("metadata aggregation survives partition-spec evolution (rebucket)") {
    import spark.implicits._
    val dir = specDir("graft-metaagg-rb").toString
    val t = s"$dir/t"
    IcebergishTable.write(
      spark.range(0, 300).select(col("id").cast("string").as("k"), col("id").as("v")),
      t, "k", 4)
    // Rebucket = replace-all rewrite under a new (key, count): every file
    // is fresh, so filerows/colstats are re-recorded and the metadata
    // path must answer exactly over the NEW layout.
    IcebergishTable.rebucket(spark, t, "k", 8)
    spark.conf.set("spark.sql.catalog.graft_rb",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_rb.warehouse", dir)
    val agg = spark.sql("SELECT count(*) AS n, min(v) AS mn, max(v) AS mx FROM graft_rb.t")
    assert(plan(agg).contains("GraftMetaAggScan"), plan(agg))
    assert((agg.head().getLong(0), agg.head().getLong(1), agg.head().getLong(2)) ==
      ((300L, 0L, 299L)))
  }

  test("snapshot time travel aggregates the pinned state") {
    import spark.implicits._
    val dir = specDir("graft-metaagg-tt").toString
    val t = s"$dir/t"
    IcebergishTable.write(
      spark.range(0, 100).select(col("id").cast("string").as("k"), col("id").as("v")),
      t, "k", 4)
    val snap0 = IcebergishTable.currentSnapshot(t)
    IcebergishTable.write(
      spark.range(100, 150).select(col("id").cast("string").as("k"), col("id").as("v")),
      t, "k", 4, org.apache.spark.sql.SaveMode.Append)
    spark.conf.set("spark.sql.catalog.graft_tt",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft_tt.warehouse", dir)
    val cur = spark.sql("SELECT count(*) AS n, max(v) AS mx FROM graft_tt.t").head()
    assert((cur.getLong(0), cur.getLong(1)) == ((150L, 149L)))
    val pinned = spark.read.option("snapshot", snap0.toString).table("graft_tt.t")
      .agg(count(lit(1)).as("n"), max(col("v")).as("mx")).head()
    assert((pinned.getLong(0), pinned.getLong(1)) == ((100L, 99L)))
  }
}
