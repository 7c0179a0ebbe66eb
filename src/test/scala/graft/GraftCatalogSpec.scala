package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.{IcebergishTable, Manifest}

/** DSv2 catalog: correctness, pushdown, bucket pruning, and the headline —
  * a bucket-key join between co-bucketed tables plans storage-partitioned
  * with ZERO exchanges (the reference's push-into-source spirit,
  * /root/reference/src/graph_loader.rs:978-1026).
  */
class GraftCatalogSpec extends SparkSpec {

  private lazy val warehouse: String = {
    val dir = specDir("graft-warehouse").toString
    import spark.implicits._
    val edges = spark.range(0, 2000)
      .select(concat(lit("s"), col("id") % 80).as("subj"),
        lit("p").as("pred"), concat(lit("o"), col("id") % 40).as("obj"),
        concat(lit("u"), col("id")).as("url"), lit(1.0).as("conf"))
    IcebergishTable.write(edges, s"$dir/edges", "subj", 8)
    val vertices = graft.materialize.GraphOut
      .verticesBucketedPlan(edges, 8)
      .select(col("id"), col("label"),
        col("props")("degree").cast("long").as("degree"),
        col(IcebergishTable.PartCol))
    // writePrePartitioned records the bucket spec (id, 8) in the manifest.
    IcebergishTable.writePrePartitioned(vertices, s"$dir/vertices", 8, "id")
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.v2.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", dir)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    dir
  }

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("catalog read equals direct parquet read") {
    warehouse
    import spark.implicits._
    val viaCatalog = spark.table("graft.edges")
      .select("subj", "pred", "obj", "url")
      .as[(String, String, String, String)].collect().toSet
    val direct = IcebergishTable.read(spark, s"$warehouse/edges")
      .select("subj", "pred", "obj", "url")
      .as[(String, String, String, String)].collect().toSet
    assert(viaCatalog == direct && viaCatalog.nonEmpty)
  }

  test("column pruning and data-filter pushdown reach the V2 scan") {
    warehouse
    val df = spark.table("graft.edges")
      .select(col("subj")).where(col("subj") === "s7")
    val p = plan(df)
    assert(p.contains("GraftScan"), p)
    assert(p.contains("pushed=") && p.contains("subj,s7"),
      "data filter not pushed into the scan: " + p)
    // Pruned read schema: the scan must not materialize url/obj/conf.
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(!scan.contains("url") && !scan.contains("conf"),
      "column pruning failed: " + scan)
    assert(df.count() == 25)
  }

  test("part predicates prune buckets exactly (partition pruning)") {
    warehouse
    // `part` is a METADATA column (hidden partitioning): absent from the
    // logical schema, but selectable/filterable by name — and its filters
    // still reach pushFilters for exact bucket pruning.
    assert(!spark.table("graft.edges").columns.contains("part"))
    val df = spark.table("graft.edges").where(col("part") === 3)
    val p = plan(df)
    assert(p.contains("buckets=List(3)"), "bucket not pruned:\n" + p)
    // Pruning is exact: same rows as the unpruned filter.
    val full = spark.table("graft.edges").select(col("part"))
      .collect().count(_.getInt(0) == 3)
    assert(df.count() == full && full > 0)
  }

  test("mis-typed part predicate stays residual — no silent over-pruning") {
    warehouse
    import org.apache.spark.sql.sources.{EqualTo, In}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val tbl = new graft.sources.v2.GraftTable("edges", s"$warehouse/edges")

    // A Long-valued part filter (e.g. from an implicit cast) must NOT be
    // consumed: the old code classified it as a part filter, extracted
    // Set.empty, and pruned every bucket — zero rows instead of correct
    // results. Now it stays residual and the scan covers all buckets.
    val sbLong = tbl.newScanBuilder(CaseInsensitiveStringMap.empty())
      .asInstanceOf[graft.sources.v2.GraftScanBuilder]
    val residual = sbLong.pushFilters(Array(
      EqualTo(IcebergishTable.PartCol, 5L),
      In(IcebergishTable.PartCol, Array[Any](1L, 2L))))
    assert(residual.length == 2, residual.mkString(","))
    val partsLong = sbLong.build().toBatch.planInputPartitions()
    assert(partsLong.length == 8, s"over-pruned: ${partsLong.length} buckets")

    // The well-typed Int shape still prunes exactly and is consumed.
    val sbInt = tbl.newScanBuilder(CaseInsensitiveStringMap.empty())
      .asInstanceOf[graft.sources.v2.GraftScanBuilder]
    val residualInt = sbInt.pushFilters(Array(
      In(IcebergishTable.PartCol, Array[Any](3, 4))))
    assert(residualInt.isEmpty)
    assert(sbInt.build().toBatch.planInputPartitions().length == 2)
  }

  test("time travel through the catalog: option(snapshot) pins the manifest's files") {
    warehouse
    import spark.implicits._
    val table = s"$warehouse/tt"
    IcebergishTable.write(
      spark.range(0, 10).select(col("id").cast("string").as("k"), col("id").as("v")),
      table, "k", 4)
    val snap0 = IcebergishTable.currentSnapshot(table)
    IcebergishTable.write(
      spark.range(10, 25).select(col("id").cast("string").as("k"), col("id").as("v")),
      table, "k", 4, org.apache.spark.sql.SaveMode.Append)
    val now = spark.read.table("graft.tt").as[(String, Long)].collect()
    assert(now.length == 25)
    val travel = spark.read.option("snapshot", snap0.toString)
      .table("graft.tt").select("v").as[Long].collect().toSet
    assert(travel == (0L until 10L).toSet, s"snapshot read wrong: $travel")
    intercept[SnapshotNotFound] {
      spark.read.option("snapshot", "99").table("graft.tt").count()
    }
  }

  test("df.writeTo(catalog).append() commits a snapshot and preserves the bucket layout") {
    warehouse
    import spark.implicits._
    val table = s"$warehouse/edges"
    val before = IcebergishTable.currentSnapshot(table)
    val beforeRows = spark.table("graft.edges").count()

    // The user-facing sink: a plain triple frame, NO part column — the
    // engine derives the bucket from the committed spec (hidden
    // partitioning), exactly the reference's hand-the-sink-your-rows shape.
    spark.range(0, 100)
      .select(concat(lit("w"), col("id") % 10).as("subj"),
        lit("q").as("pred"), concat(lit("o"), col("id")).as("obj"),
        concat(lit("wu"), col("id")).as("url"), lit(0.5).as("conf"))
      .writeTo("graft.edges").append()

    assert(IcebergishTable.currentSnapshot(table) == before + 1)
    assert(spark.table("graft.edges").count() == beforeRows + 100)
    // Layout preserved: every appended row sits in the bucket the committed
    // spec (subj, 8) assigns it — verify physically via the metadata column.
    val misplaced = spark.table("graft.edges")
      .where(col("subj").startsWith("w"))
      .select(col("part"),
        pmod(hash(col("subj")), lit(8)).cast("int").as("want"))
      .where(col("part") =!= col("want")).count()
    assert(misplaced == 0, s"$misplaced rows in the wrong bucket")
    // And the appended table still time-travels: the pre-append snapshot
    // reads exactly the old rows.
    assert(spark.read.option("snapshot", before.toString)
      .table("graft.edges").count() == beforeRows)
  }

  test("CTAS through the catalog: partitionedBy(bucket(n, key)).create(), then SPJ-joinable") {
    warehouse
    import org.apache.spark.sql.functions.bucket
    import spark.implicits._
    spark.range(0, 400)
      .select(concat(lit("s"), col("id") % 80).as("id2"),
        (col("id") % 7).as("score"))
      .writeTo("graft.ranks")
      .partitionedBy(bucket(8, col("id2")))
      .create()
    assert(IcebergishTable.exists(s"$warehouse/ranks"))
    assert(IcebergishTable.bucketSpecOf(s"$warehouse/ranks") == Some(("id2", 8)))
    assert(spark.table("graft.ranks").count() == 400)

    // The created table is co-bucketed with edges (same canonical bucket
    // function, same count) → the join plans storage-partitioned.
    val noBroadcast = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = noBroadcast.map { case (k, _) => k -> spark.conf.getOption(k) }
    noBroadcast.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val e = spark.table("graft.edges").where(col("pred") === "p")
      val r = spark.table("graft.ranks")
      val joined = e.join(r, e("subj") === r("id2"))
        .groupBy(r("id2")).agg(count(lit(1)).as("n"))
      val p = plan(joined)
      assert(!p.contains("Exchange"),
        s"CTAS table not storage-partition-joinable:\n$p")
      assert(joined.count() == 80)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }

    // Truncating overwrite through the catalog (INSERT OVERWRITE semantics).
    Seq(("s1", 99L)).toDF("id2", "score")
      .writeTo("graft.ranks").overwrite(lit(true))
    assert(spark.table("graft.ranks").as[(String, Long)].collect().toSeq ==
      Seq(("s1", 99L)))
    assert(spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[graft.sources.v2.GraftCatalog]
      .dropTable(org.apache.spark.sql.connector.catalog.Identifier
        .of(Array.empty, "ranks")))
    assert(!IcebergishTable.exists(s"$warehouse/ranks"))
  }

  test("manifests without file sizes plan from the manifest: catalog reads equal the table reads") {
    warehouse
    import spark.implicits._
    val table = s"$warehouse/presizes"
    IcebergishTable.write(
      (0 until 20).map(i => (s"k$i", i.toLong)).toDF("k", "v"), table, "k", 4)
    val s0 = IcebergishTable.currentSnapshot(table)
    IcebergishTable.deleteWhere(spark, table, col("v") < 3L, morMaxRows = 10L)
    // Re-encode every manifest as a writer from before sizes were recorded.
    (s0 to IcebergishTable.currentSnapshot(table)).foreach { s =>
      val m = Manifest.read(table, s)
      Files.write(Manifest.path(table, s),
        m.copy(files = m.files.map(_.copy(size = None))).encode.getBytes("UTF-8"))
    }
    def rows(df: DataFrame): Seq[(String, Long)] =
      df.select("k", "v").as[(String, Long)].collect().toSeq.sorted
    val current = rows(IcebergishTable.read(spark, table))
    assert(current.size == 17)
    assert(rows(spark.table("graft.presizes")) == current)
    assert(rows(spark.sql(s"SELECT * FROM graft.presizes VERSION AS OF $s0")) ==
      rows(IcebergishTable.readSnapshot(spark, table, s0)))
  }

  test("scan planning is metadata-only: manifest sizes, zero filesystem calls") {
    val dir = specDir("graft-meta-plan").toString
    import spark.implicits._
    val df = spark.range(0, 500)
      .select(concat(lit("k"), col("id") % 20).as("k"), col("id").as("v"))
    IcebergishTable.write(df, s"$dir/t", "k", 4)

    // The manifest records one size per file, and they match the files.
    val snap = IcebergishTable.currentSnapshot(s"$dir/t")
    val files = Manifest.read(s"$dir/t", snap).files
    assert(files.forall(_.size.isDefined), "manifest missing the sizes array")
    files.map(f => f.path -> f.size.get).foreach { case (rel, size) =>
      assert(Files.size(java.nio.file.Paths.get(s"$dir/t").resolve(rel)) == size,
        s"manifest size wrong for $rel")
    }

    // Planning needs NO data directory at all: hide it, plan, restore.
    val tbl = new graft.sources.v2.GraftTable("t", s"$dir/t")
    val scan = tbl.newScanBuilder(
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()).build()
    val dataDir = java.nio.file.Paths.get(s"$dir/t/data")
    val hidden = java.nio.file.Paths.get(s"$dir/t/data-moved")
    Files.move(dataDir, hidden)
    try {
      val parts = scan.toBatch.planInputPartitions()
      assert(parts.length == 4, s"planned ${parts.length} buckets")
      val planned = parts.collect {
        case p: graft.sources.v2.GraftBucketPartition => p.files.length
      }.sum
      assert(planned == files.size, "planned file count != manifest")
    } finally Files.move(hidden, dataDir)

    // And the planned scan actually reads correctly.
    val scan2 = tbl.newScanBuilder(
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()).build()
    assert(scan2.toBatch.planInputPartitions().nonEmpty)
    assert(IcebergishTable.read(spark, s"$dir/t").count() == 500)
  }

  test("ALTER TABLE ADD COLUMN through the catalog: evolved reads, nulls for old files") {
    warehouse
    import spark.implicits._
    val table = s"$warehouse/evolving"
    IcebergishTable.write(
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), table, "k", 4)
    val sOld = IcebergishTable.currentSnapshot(table)

    spark.sql("ALTER TABLE graft.evolving ADD COLUMN lang STRING")
    // Catalog reflects the widened schema; old rows read null.
    val evolved = spark.table("graft.evolving")
    assert(evolved.columns.toSeq == Seq("k", "v", "lang"))
    assert(evolved.where(col("lang").isNull).count() == 2)

    // New-schema rows arrive through the catalog write path.
    Seq(("c", 3L, "en")).toDF("k", "v", "lang")
      .writeTo("graft.evolving").append()
    val got = spark.table("graft.evolving")
      .select("k", "lang").as[(String, String)].collect().toSet
    assert(got == Set(("a", null), ("b", null), ("c", "en")))

    // VERSION AS OF pins the SCHEMA of its era along with the files…
    val pinned = spark.sql(
      s"SELECT * FROM graft.evolving VERSION AS OF $sOld")
    assert(pinned.columns.toSeq == Seq("k", "v"))
    assert(pinned.count() == 2)
    // …while the scan-level option pins only the FILE LIST (current
    // schema; the later column reads null) — both documented behaviors.
    val optPinned = spark.read
      .option("snapshot", sOld.toString).table("graft.evolving")
    assert(optPinned.columns.toSeq == Seq("k", "v", "lang"))
    assert(optPinned.count() == 2 &&
      optPinned.where(col("lang").isNull).count() == 2)

    // RENAME COLUMN (round 5): metadata-only, field-id-resolved — data
    // written under the old name keeps reading under the new one.
    spark.sql("ALTER TABLE graft.evolving RENAME COLUMN lang TO language")
    val renamed = spark.table("graft.evolving")
    assert(renamed.columns.toSeq == Seq("k", "v", "language"))
    assert(renamed.where(col("language") === "en").count() == 1)
    // Era schema: the pre-rename snapshot still reads under its old name.
    assert(spark.sql(
      s"SELECT * FROM graft.evolving VERSION AS OF $sOld")
      .columns.toSeq == Seq("k", "v"))
    // A multi-change ALTER with one bad change commits NOTHING.
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.evolving ADD COLUMNS (ok INT, language STRING)")
    }
    assert(spark.table("graft.evolving").columns.toSeq ==
      Seq("k", "v", "language"), "partial apply after rejected multi-ALTER")

    // Retype stays loudly unsupported.
    intercept[UnsupportedOperationException] {
      spark.sql("ALTER TABLE graft.evolving ALTER COLUMN v TYPE STRING")
    }
  }

  test("typed errors at the table protocol surface: corrupt manifest, bucket-spec mismatch") {
    import spark.implicits._
    val base = specDir("graft-typed").toString
    val table = s"$base/t"
    IcebergishTable.write(Seq(("a", 1L)).toDF("k", "v"), table, "k", 4)

    // Appending with a different bucket layout is rejected up front — it
    // would silently break SPJ/bucket pruning for every later reader.
    intercept[BucketSpecMismatch] {
      IcebergishTable.write(Seq(("b", 2L)).toDF("k", "v"), table, "k", 8,
        org.apache.spark.sql.SaveMode.Append)
    }
    intercept[BucketSpecMismatch] {
      IcebergishTable.write(Seq(("b", 2L)).toDF("k", "v"), table, "v", 4,
        org.apache.spark.sql.SaveMode.Append)
    }

    // A torn/corrupt manifest surfaces as the typed ManifestCorrupted from
    // every protocol entry point — and rollbackTo must REFUSE to act on it
    // (parsing it leniently as "no files" would delete all live data).
    val snap = IcebergishTable.currentSnapshot(table)
    val m = java.nio.file.Paths.get(table, s"snap-$snap.json")
    val intact = new String(java.nio.file.Files.readAllBytes(m), "UTF-8")
    java.nio.file.Files.write(m,
      intact.substring(0, intact.indexOf("\"files\"")).getBytes("UTF-8"))
    intercept[ManifestCorrupted] { IcebergishTable.manifestMeta(table) }
    intercept[ManifestCorrupted] { IcebergishTable.rollbackTo(table, snap) }
    intercept[ManifestCorrupted] { IcebergishTable.readSnapshot(spark, table, snap) }
    // Current-state reads are manifest-based, so the corruption surfaces
    // typed there too (no silent directory fallback).
    intercept[ManifestCorrupted] { IcebergishTable.read(spark, table) }
    java.nio.file.Files.write(m, intact.getBytes("UTF-8")) // restore
    assert(IcebergishTable.read(spark, table).count() == 1,
      "live data must survive a refused rollback")
    assert(IcebergishTable.manifestMeta(table)._2 == Some(("k", 4)))
  }

  test("bucket-key join between co-bucketed tables plans with ZERO exchanges (storage-partitioned join)") {
    warehouse
    import spark.implicits._
    val noBroadcast = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = noBroadcast.map { case (k, _) => k -> spark.conf.getOption(k) }
    noBroadcast.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val e = spark.table("graft.edges")
      val v = spark.table("graft.vertices")
      val joined = e.join(v, e("subj") === v("id"))
        .groupBy(v("id")).agg(count(lit(1)).as("n"), first(v("degree")).as("d"))
      val p = plan(joined)
      val exchanges = "Exchange".r.findAllIn(p).size
      assert(exchanges == 0,
        s"expected a storage-partitioned join with 0 exchanges, got $exchanges:\n$p")
      // And it's the real join result.
      val got = joined.select(col("id"), col("n"), col("d"))
        .as[(String, Long, Long)].collect()
        .map { case (id, n, d) => id -> ((n, d)) }.toMap
      // 2000 edges over 80 subjects = 25 edges each; degree counts both
      // endpoint roles of the id.
      assert(got.size == 80)
      assert(got.keys.forall(_.startsWith("s")))
      assert(got.values.forall { case (n, _) => n == 25 })
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bucket filtering: scan contract prunes partitions; DPP join reads only probed buckets") {
    warehouse
    // Contract level: the built scan accepts an IN-filter on part at
    // "execution time" and replans to exactly those buckets.
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    val tbl = new graft.sources.v2.GraftTable("edges", s"$warehouse/edges")
    val scan = tbl.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())).build()
    val all = scan.toBatch.planInputPartitions().length
    assert(all > 1)
    scan.asInstanceOf[SupportsRuntimeFiltering].filter(
      Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.In(graft.io.IcebergishTable.PartCol,
          Array(3))))
    val pruned = scan.toBatch.planInputPartitions()
    assert(pruned.length == 1, s"expected 1 partition, got ${pruned.length}")

    // End to end: a broadcastable dim constraining part triggers dynamic
    // pruning; result equals the statically-filtered read. The dim must be
    // FILE-backed with a real filter — DPP's selectivity heuristic needs a
    // Filter node, and literal LocalRelations constant-fold it away.
    import spark.implicits._
    val dimPath = specDir("graft-dpp-dim").toString + "/dim"
    Seq((3, "keep"), (4, "drop"), (5, "drop")).toDF("p", "tag")
      .write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath).where(col("tag") === "keep")
    val e = spark.table("graft.edges")
    val joined = e.join(dim, e(graft.io.IcebergishTable.PartCol) === dim("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("n"))
    val expect = graft.io.IcebergishTable.read(spark, s"$warehouse/edges")
      .where(col(graft.io.IcebergishTable.PartCol) === 3).count()
    val row = joined.head()
    assert((row.getInt(0), row.getLong(1)) == ((3, expect)) && expect > 0)
    // The dynamic-pruning subquery must be in the plan (the scan declares
    // part as a runtime-filterable attribute).
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning") || p.contains("DynamicPruning") ||
      p.contains("runtime filters"), p)
  }
}
