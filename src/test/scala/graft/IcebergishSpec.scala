package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.io.{IcebergishTable, Manifest, TableFileWriter, WrittenFile}
import graft.streaming.StreamingKg
import graft.synth.PageSynth

/** Iceberg-style table semantics (snapshots, time travel, commit chain)
  * and the incremental streaming KG build.
  */
class IcebergishSpec extends SparkSpec {

  /** The persistent query id a stream checkpoint records in `metadata`. */
  private def streamQueryId(checkpointDir: String): String =
    """"id":"([^"]+)"""".r.findFirstMatchIn(new String(Files.readAllBytes(
      java.nio.file.Paths.get(checkpointDir, "metadata")), "UTF-8")).get.group(1)

  /** The table's data files on disk (table-relative), skipping hidden
    * paths (`_staging`, `_temporary`, `.crc`) — what a directory walk
    * sees, as opposed to what a manifest records.
    */
  private def dataFilesOnDisk(table: String): Set[String] = {
    val root = java.nio.file.Paths.get(table)
    val s = Files.walk(root.resolve("data"))
    try s.iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(root.relativize)
      .filterNot(_.iterator().asScala.exists { seg =>
        val n = seg.toString
        n.startsWith("_") || n.startsWith(".")
      })
      .map(_.toString).toSet
    finally s.close()
  }

  test("append creates snapshots; readSnapshot time-travels; current read sees all") {
    import spark.implicits._
    val t = specDir("graft-ice").toString + "/t"
    val df1 = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    IcebergishTable.write(df1, t, "k", 4)
    val s0 = IcebergishTable.currentSnapshot(t)
    val df2 = Seq(("c", 3L)).toDF("k", "v")
    IcebergishTable.write(df2, t, "k", 4,
      org.apache.spark.sql.SaveMode.Append)
    val s1 = IcebergishTable.currentSnapshot(t)
    assert(s1 == s0 + 1)

    val now = IcebergishTable.read(spark, t)
      .select("k").as[String].collect().toSet
    assert(now == Set("a", "b", "c"))
    val old = IcebergishTable.readSnapshot(spark, t, s0)
      .select("k").as[String].collect().toSet
    assert(old == Set("a", "b"))
    val cur = IcebergishTable.readSnapshot(spark, t, s1)
      .select("k").as[String].collect().toSet
    assert(cur == Set("a", "b", "c"))
  }

  test("invalid pipeline config is rejected at init") {
    intercept[InvalidConfig] {
      Pipeline.validate(PipelineConfig(nPages = 0))
    }
    intercept[InvalidConfig] {
      Pipeline.validate(PipelineConfig(outputBuckets = -1))
    }
    intercept[InvalidConfig] {
      Pipeline.validate(PipelineConfig(runId = ""))
    }
    Pipeline.validate(PipelineConfig()) // default is valid
  }

  test("late/duplicated pages converge: incremental build equals batch over unique pages") {
    import spark.implicits._
    val base = specDir("graft-skgl").toString
    val pagesDir = s"$base/pages-data"
    Files.createDirectories(java.nio.file.Paths.get(pagesDir))
    val canon = PageSynth.sameAsPairs.map { case (c, d) => d -> c }.toMap
    val table = s"$base/edges"
    val all = PageSynth.pages(spark, 31L, 120L, 2).toDF.localCheckpoint()
    val half = pmod(xxhash64(col("url")), lit(2))

    // Delivery is OUT OF ORDER and DUPLICATED: the second half arrives
    // first; then the first half arrives together with a LATE re-delivery
    // of the entire second half (an upstream retry).
    all.where(half === 1).write.mode("append").parquet(pagesDir)
    StreamingKg.buildIncrementalBucketed(spark, pagesDir, table,
      s"$base/ckpt", canon, numParts = 8)
    all.where(half === 0).write.mode("append").parquet(pagesDir)
    all.where(half === 1).write.mode("append").parquet(pagesDir) // late dupe
    val out = StreamingKg.buildIncrementalBucketed(spark, pagesDir, table,
      s"$base/ckpt", canon, numParts = 8)

    // Batch build over the UNIQUE pages:
    val pages = all
      .select(col("url"), col("warc_ts"), col("html"),
        graft.functions.HtmlExtractExpr.html_extract(col("html")).as("text"),
        col("lang")).as[Page]
    val batch = graft.triples.TripleExtract.extractDirect(pages,
        PageSynth.aliasDictionary, PageSynth.relations.toMap)
      .map(t => (canon.getOrElse(t.subj, t.subj), t.pred,
        canon.getOrElse(t.obj, t.obj), t.url))
      .collect().toSet
    val streamed = out.select("subj", "pred", "obj", "url")
      .as[(String, String, String, String)].collect()
    assert(streamed.toSet == batch,
      s"missing=${(batch -- streamed.toSet).take(3)} extra=${(streamed.toSet -- batch).take(3)}")
    // Convergence is EXACT: the late re-delivery added zero duplicate rows.
    assert(streamed.length == batch.size)
  }

  test("incremental KG into the bucketed Icebergish table: exactly-once across replays") {
    import spark.implicits._
    val base = specDir("graft-skgb").toString
    val pagesDir = s"$base/pages-data"
    Files.createDirectories(java.nio.file.Paths.get(pagesDir))
    val canon = PageSynth.sameAsPairs.map { case (c, d) => d -> c }.toMap
    val table = s"$base/edges"

    PageSynth.pages(spark, 31L, 100L, 2).toDF
      .write.mode("append").parquet(pagesDir)
    val out1 = StreamingKg.buildIncrementalBucketed(spark, pagesDir,
      table, s"$base/ckpt", canon, numParts = 8)
    val n1 = out1.count()
    assert(n1 > 0)
    val snap1 = graft.io.IcebergishTable.currentSnapshot(table)

    // Replay the SAME micro-batch id of the same stream directly
    // (crash-between-commits case): the manifest's epoch for the stream's
    // query id must make it a no-op — no duplicate files, no new rows.
    val queryId = streamQueryId(s"$base/ckpt")
    assert(IcebergishTable.streamEpoch(table, queryId) == Some(0L))
    val pages = spark.read.parquet(pagesDir)
      .select(col("url"), col("warc_ts"), col("html"),
        graft.functions.HtmlExtractExpr.html_extract(col("html")).as("text"),
        col("lang")).as[Page]
    val replay = graft.triples.TripleExtract.extractDirect(pages,
        PageSynth.aliasDictionary, PageSynth.relations.toMap)
      .map(t => t.copy(subj = canon.getOrElse(t.subj, t.subj),
        obj = canon.getOrElse(t.obj, t.obj))).toDF
    val lineage = graft.materialize.Checkpoint.readRows(s"$table-acks")
    StreamingKg.appendBatch(replay, table, queryId, batchId = 0L, numParts = 8)
    // Returned before any work: not even a lineage row.
    assert(graft.materialize.Checkpoint.readRows(s"$table-acks") == lineage)
    assert(graft.io.IcebergishTable.read(spark, table).count() == n1)
    assert(graft.io.IcebergishTable.currentSnapshot(table) == snap1)

    // New files → only the new batch appends; total equals full batch calc.
    PageSynth.pages(spark, 32L, 60L, 2).toDF
      .write.mode("append").parquet(pagesDir)
    val out2 = StreamingKg.buildIncrementalBucketed(spark, pagesDir,
      table, s"$base/ckpt", canon, numParts = 8)
    assert(out2.count() > n1)
    val allPages = spark.read.parquet(pagesDir)
      .select(col("url"), col("warc_ts"), col("html"),
        graft.functions.HtmlExtractExpr.html_extract(col("html")).as("text"),
        col("lang")).as[Page]
    val batchSet = graft.triples.TripleExtract.extractDirect(allPages,
        PageSynth.aliasDictionary, PageSynth.relations.toMap)
      .map(t => (canon.getOrElse(t.subj, t.subj), t.pred,
        canon.getOrElse(t.obj, t.obj), t.url))
      .collect().toSet
    val got = graft.io.IcebergishTable.read(spark, table)
      .select("subj", "pred", "obj", "url")
      .as[(String, String, String, String)].collect().toSet
    assert(got == batchSet)
  }

  test("a table reused by a new stream checkpoint appends that stream's first batches") {
    import spark.implicits._
    val base = specDir("graft-skg2q").toString
    val canon = PageSynth.sameAsPairs.map { case (c, d) => d -> c }.toMap
    val table = s"$base/edges"
    val (dirA, dirB) = (s"$base/pages-a", s"$base/pages-b")
    PageSynth.pages(spark, 41L, 80L, 2).toDF.write.parquet(dirA)
    PageSynth.pages(spark, 42L, 60L, 2).toDF.write.parquet(dirB)

    // The micro-batch thread carries the stream's persistent id (the one in
    // the checkpoint's `metadata`): the same across restarts of one
    // checkpoint, fresh for a new checkpoint.
    val probeDir = s"$base/probe-src"
    def probe(ckpt: String): (Set[String], String) = {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      spark.readStream.schema(spark.read.parquet(dirA).schema).parquet(probeDir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.add(b.sparkSession.sparkContext.getLocalProperty("sql.streaming.queryId"))
          ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      (seen.asScala.toSet, streamQueryId(ckpt))
    }
    spark.read.parquet(dirA).limit(5).write.parquet(probeDir)
    val (seen1, id1) = probe(s"$base/probe-1")
    spark.read.parquet(dirB).limit(5).write.mode("append").parquet(probeDir)
    val (seen1again, id1again) = probe(s"$base/probe-1") // restart
    val (seen2, id2) = probe(s"$base/probe-2")
    assert(seen1 == Set(id1) && seen1again == Set(id1) && id1again == id1)
    assert(seen2 == Set(id2) && id2 != id1)

    // Stream A (checkpoint c1) then stream B (new checkpoint c2) into T.
    StreamingKg.buildIncrementalBucketed(spark, dirA, table, s"$base/c1",
      canon, numParts = 8)
    val out = StreamingKg.buildIncrementalBucketed(spark, dirB, table,
      s"$base/c2", canon, numParts = 8)

    val pages = spark.read.parquet(dirA).union(spark.read.parquet(dirB))
      .select(col("url"), col("warc_ts"), col("html"),
        graft.functions.HtmlExtractExpr.html_extract(col("html")).as("text"),
        col("lang")).as[Page]
    val batch = graft.triples.TripleExtract.extractDirect(pages,
        PageSynth.aliasDictionary, PageSynth.relations.toMap)
      .map(t => (canon.getOrElse(t.subj, t.subj), t.pred,
        canon.getOrElse(t.obj, t.obj), t.url))
      .collect().toSet
    val streamed = out.select("subj", "pred", "obj", "url")
      .as[(String, String, String, String)].collect()
    val (missing, extra) = (batch -- streamed.toSet, streamed.toSet -- batch)
    val exact = missing.isEmpty && extra.isEmpty
    assert(exact, s"missing ${missing.size}, e.g. ${missing.take(3)}; extra ${extra.take(3)}")
    assert(streamed.length == batch.size, "duplicate rows")
  }

  test("compaction tombstones superseded files; time travel survives until snapshots expire") {
    import spark.implicits._
    import graft.io.IcebergishTable
    val base = specDir("graft-compact").toString
    val table = s"$base/edges"
    (0 until 3).foreach { b =>
      StreamingKg.appendBatch(
        Seq(Triple(s"A$b", "p", s"B$b", s"u$b", 1.0),
          Triple(s"C$b", "p", s"D$b", s"v$b", 1.0)).toDF,
        table, "q", b.toLong, 4)
    }
    val before = IcebergishTable.read(spark, table)
      .select("subj").as[String].collect().toSet
    assert(before.size == 6)
    val preSnap = IcebergishTable.currentSnapshot(table)
    val filesBefore = Manifest.read(table, preSnap).paths.size
    assert(filesBefore > 4, s"appends should accumulate files: $filesBefore")

    IcebergishTable.compact(spark, table, 4, "subj")
    // Content identical, live files collapsed to ≤ one per bucket.
    val after = IcebergishTable.read(spark, table)
      .select("subj").as[String].collect().toSet
    assert(after == before)
    assert(Manifest.read(table, IcebergishTable.currentSnapshot(table)).paths.size <= 4)
    // Pre-compaction snapshot still time-travels (old files replaced in
    // the manifest, not deleted).
    val travel = IcebergishTable.readSnapshot(spark, table, preSnap)
      .select("subj").as[String].collect().toSet
    assert(travel == before)

    // Expiry reclaims the replaced files; current read unaffected,
    // expired manifests gone.
    IcebergishTable.expireSnapshots(table, keepLast = 1)
    assert(IcebergishTable.read(spark, table)
      .select("subj").as[String].collect().toSet == before)
    intercept[SnapshotNotFound] {
      IcebergishTable.readSnapshot(spark, table, preSnap)
    }
  }

  test("committer staging files (_temporary) are never treated as data") {
    import spark.implicits._
    import graft.io.IcebergishTable
    val base = specDir("graft-staged").toString
    val table = s"$base/t"
    IcebergishTable.write(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), table, "k", 4)
    val n0 = IcebergishTable.read(spark, table).count()

    // Plant a staged task file the way a crashed/concurrent write would
    // leave it: a real parquet file under data/part=0/_temporary/... .
    val live = Manifest.read(table, IcebergishTable.currentSnapshot(table)).paths.head
    val staged = java.nio.file.Paths.get(table,
      "data", s"${IcebergishTable.PartCol}=0", "_temporary", "0",
      "task_000", "part-staged.parquet")
    Files.createDirectories(staged.getParent)
    Files.copy(java.nio.file.Paths.get(table, live), staged)

    // Current reads skip it; the next directory-derived commit must not
    // record it in the new manifest either.
    assert(IcebergishTable.read(spark, table).count() == n0)
    IcebergishTable.write(Seq(("c", 3L)).toDF("k", "v"), table, "k", 4,
      org.apache.spark.sql.SaveMode.Append)
    assert(IcebergishTable.read(spark, table).count() == n0 + 1)
    val snap = IcebergishTable.currentSnapshot(table)
    assert(!Manifest.read(table, snap).paths
      .exists(_.contains("_temporary")),
      "staged file leaked into the snapshot manifest")
  }

  test("rollback over a compaction un-tombstones the restored snapshot's files") {
    import spark.implicits._
    import graft.io.IcebergishTable
    val base = specDir("graft-rbcomp").toString
    val table = s"$base/t"
    IcebergishTable.write(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), table, "k", 4)
    IcebergishTable.write(Seq(("c", 3L)).toDF("k", "v"), table, "k", 4,
      org.apache.spark.sql.SaveMode.Append)
    val preCompact = IcebergishTable.currentSnapshot(table)
    IcebergishTable.compact(spark, table, 4, "k")
    IcebergishTable.write(Seq(("d", 4L)).toDF("k", "v"), table, "k", 4,
      org.apache.spark.sql.SaveMode.Append)
    val top = IcebergishTable.currentSnapshot(table)

    // Roll back BEHIND the compaction: its input files were replaced, but
    // they ARE the restored snapshot's live set — read() must see them
    // again.
    IcebergishTable.rollbackTo(table, preCompact)
    assert(IcebergishTable.currentSnapshot(table) == preCompact)
    val got = IcebergishTable.read(spark, table)
      .select("k").as[String].collect().toSet
    assert(got == Set("a", "b", "c"), s"rolled-back read wrong: $got")
    // Rolled-back-over manifests are gone; a fresh append restarts the chain.
    ((preCompact + 1) to top).foreach { s =>
      intercept[SnapshotNotFound] { IcebergishTable.readSnapshot(spark, table, s) }
    }
    IcebergishTable.write(Seq(("e", 5L)).toDF("k", "v"), table, "k", 4,
      org.apache.spark.sql.SaveMode.Append)
    assert(IcebergishTable.read(spark, table)
      .select("k").as[String].collect().toSet == Set("a", "b", "c", "e"))
  }

  test("streaming crash BETWEEN parquet commit and manifest swap: replay still exactly-once") {
    import spark.implicits._
    import graft.io.IcebergishTable
    val base = specDir("graft-skgc2").toString
    val table = s"$base/edges"
    StreamingKg.appendBatch(Seq(Triple("A", "p", "B", "u1", 1.0)).toDF, table, "q", 0L, 4)
    val pre = IcebergishTable.currentSnapshot(table)

    // Simulate batch 1 crashing AFTER its parquet job committed files into
    // the bucket dirs but BEFORE commit() wrote the manifest/VERSION:
    // raw file append, no new snapshot. (The old snapshot-advanced guard
    // missed this window entirely.)
    val b1 = Seq(Triple("C", "p", "D", "u2", 1.0)).toDF
    val committed = Manifest.read(table, pre).paths.toSet
    b1.withColumn(IcebergishTable.PartCol, IcebergishTable.partExpr("subj", 4))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy(IcebergishTable.PartCol)
      .parquet(s"$table/data")
    assert(IcebergishTable.currentSnapshot(table) == pre) // no manifest landed

    val orphans = dataFilesOnDisk(table) -- committed
    assert(orphans.nonEmpty)

    // Replay commits the batch once: no manifest references the orphans.
    StreamingKg.appendBatch(b1, table, "q", 1L, 4)
    val rows = IcebergishTable.read(spark, table)
      .select("subj").as[String].collect().toSeq.sorted
    assert(rows == Seq("A", "C"), s"duplicates after replay: $rows")
    // The vacuum reclaims exactly the first attempt's files; the read holds.
    assert(IcebergishTable.removeOrphans(table, 0L).toSet == orphans)
    assert(dataFilesOnDisk(table).intersect(orphans).isEmpty)
    assert(IcebergishTable.read(spark, table)
      .select("subj").as[String].collect().toSeq.sorted == rows)
  }

  test("read() is manifest-based: files landed by an uncommitted write stay invisible") {
    import spark.implicits._
    val table = specDir("graft-snapread").toString + "/t"
    IcebergishTable.write(
      (0 until 20).map(i => (s"k$i", i.toLong)).toDF("k", "v"), table, "k", 4)
    val before = IcebergishTable.read(spark, table).count()
    assert(before == 20)
    // Simulate a concurrent append mid-flight: its parquet file is already
    // in a bucket directory but its commit has not happened yet. A
    // directory-derived read would leak these rows; the manifest-based
    // read must not.
    val bucketDir = {
      val s = Files.list(java.nio.file.Paths.get(s"$table/data"))
      try s.iterator().next() finally s.close()
    }
    val existing = {
      val s = Files.list(bucketDir)
      try s.iterator().next() finally s.close()
    }
    Files.copy(existing, bucketDir.resolve("part-inflight-uncommitted.parquet"))
    assert(IcebergishTable.read(spark, table).count() == before,
      "uncommitted file leaked into a current-state read")
  }

  test("overwrite drops old manifests: pinned reads of the old state fail loudly") {
    import spark.implicits._
    val table = specDir("graft-ow").toString + "/t"
    def rows(a: Int, b: Int) = (a until b)
      .map(i => (s"k$i", i.toLong)).toDF("k", "v")
    IcebergishTable.write(rows(0, 10), table, "k", 4)
    IcebergishTable.write(rows(10, 15), table, "k", 4,
      org.apache.spark.sql.SaveMode.Append)
    val preSnap = IcebergishTable.currentSnapshot(table)
    IcebergishTable.write(rows(100, 103), table, "k", 4) // overwrite
    // New state reads; the overwritten snapshots' files are GONE, so both
    // bespoke and DSv2 pinned reads must fail loudly, not return empty.
    assert(IcebergishTable.read(spark, table).count() == 3)
    intercept[SnapshotNotFound] {
      IcebergishTable.readSnapshot(spark, table, preSnap)
    }
    val tbl = new graft.sources.v2.GraftTable("t", table)
    val opts = new java.util.HashMap[String, String]()
    opts.put("snapshot", preSnap.toString)
    intercept[SnapshotNotFound] {
      tbl.newScanBuilder(
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts))
        .build().toBatch.planInputPartitions()
    }
  }

  test("a legitimately EMPTY snapshot reads typed and plans empty — not as expired") {
    import spark.implicits._
    val table = specDir("graft-empty").toString + "/t"
    IcebergishTable.createEmpty(table,
      Seq(("a", 1L)).toDF("k", "v").schema, "k", 4)
    // Schema-typed empty frame (a zero-column one would break .select).
    val snap0 = IcebergishTable.readSnapshot(spark, table, 0)
    assert(snap0.select("k", "v").count() == 0)
    // Pinned DSv2 scan of the empty snapshot plans zero partitions.
    val tbl = new graft.sources.v2.GraftTable("t", table)
    val opts = new java.util.HashMap[String, String]()
    opts.put("snapshot", "0")
    val parts = tbl.newScanBuilder(
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts))
      .build().toBatch.planInputPartitions()
    assert(parts.isEmpty)
  }

  test("commit CAS: a racing writer's manifest is never clobbered — the chain steps past it") {
    import spark.implicits._
    val table = specDir("graft-cas").toString + "/t"
    IcebergishTable.write(
      (0 until 8).map(i => (s"k$i", i.toLong)).toDF("k", "v"), table, "k", 4)
    val s = IcebergishTable.currentSnapshot(table)
    // Simulate another JVM that placed snap-(s+1) but has not (yet)
    // swapped VERSION — invisible to this JVM's commit monitor.
    val racer = java.nio.file.Paths.get(table, s"snap-${s + 1}.json")
    val racerBytes = "RACER-MANIFEST".getBytes("UTF-8")
    Files.write(racer, racerBytes)
    IcebergishTable.write(
      Seq(("extra", 99L)).toDF("k", "v"), table, "k", 4,
      org.apache.spark.sql.SaveMode.Append)
    // Our commit stepped past the racer's number instead of overwriting it.
    assert(IcebergishTable.currentSnapshot(table) == s + 2)
    assert(java.util.Arrays.equals(Files.readAllBytes(racer), racerBytes),
      "racing writer's manifest was clobbered")
    assert(IcebergishTable.read(spark, table).count() == 9)
  }

  test("multi-writer: concurrent threads appending to ONE table all survive, union visible") {
    import spark.implicits._
    val table = specDir("graft-mw").toString + "/t"
    IcebergishTable.write(
      (0 until 8).map(i => (s"seed$i", i.toLong)).toDF("k", "v"), table, "k", 4)
    val s0 = IcebergishTable.currentSnapshot(table)
    // 4 writers × 2 appends each, racing through the PUBLIC append path.
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 4).map { w =>
      new Thread(() => {
        try (0 until 2).foreach { i =>
          IcebergishTable.write(
            Seq((s"w$w-$i", (w * 10 + i).toLong)).toDF("k", "v"),
            table, "k", 4, org.apache.spark.sql.SaveMode.Append)
        } catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"concurrent append failed: ${errors.peek()}")
    // Every commit survived: 8 appends → 8 new CONTIGUOUS snapshots…
    assert(IcebergishTable.currentSnapshot(table) == s0 + 8)
    // …the union of all writers' rows is visible…
    val ks = IcebergishTable.read(spark, table).select("k").as[String]
      .collect().toSet
    val expected = (0 until 8).map(i => s"seed$i").toSet ++
      (for (w <- 0 until 4; i <- 0 until 2) yield s"w$w-$i")
    assert(ks == expected, s"missing: ${expected -- ks}")
    // …no torn manifest: every snapshot in the chain parses, every file the
    // final manifest references exists on disk, and file lists only GROW
    // along the chain (appends never drop a predecessor's files).
    val chains = (s0 to s0 + 8).map(s =>
      IcebergishTable.snapshotFilesOpt(table, s).getOrElse(
        fail(s"snapshot $s unreadable")).toSet)
    chains.sliding(2).foreach { case Seq(a, b) =>
      assert(a.subsetOf(b), s"append dropped files: ${a -- b}")
    }
    chains.last.foreach(f => assert(
      Files.exists(java.nio.file.Paths.get(table, f)), s"missing file $f"))
  }

  test("multi-writer: two separate JVMs race commits through the filesystem CAS") {
    import spark.implicits._
    val table = specDir("graft-mw2").toString + "/t"
    IcebergishTable.write(
      (0 until 8).map(i => (s"seed$i", i.toLong)).toDF("k", "v"), table, "k", 4)
    val s0 = IcebergishTable.currentSnapshot(table)
    val rowsBefore = IcebergishTable.read(spark, table).count()
    // Any committed data file serves as the seed payload each child
    // re-commits under fresh names (into its own source bucket).
    val seedRel = Manifest.read(table, s0).paths.headOption
      .getOrElse(fail("no committed data file"))
    val seedBucket = IcebergishTable.bucketOfPath(seedRel)
    val seedRows = spark.read.parquet(s"$table/$seedRel").count()
    val seedAbs = java.nio.file.Paths.get(table, seedRel).toAbsolutePath.toString
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val perChild = 5
    val procs = Seq("jvmA", "jvmB").map { id =>
      new ProcessBuilder(javaBin, "-cp", System.getProperty("java.class.path"),
        "graft.tools.CommitRaceChild", table, id, perChild.toString,
        seedAbs, seedBucket.toString).inheritIO().start()
    }
    procs.foreach { p =>
      assert(p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS),
        "child JVM timed out")
      assert(p.exitValue() == 0, s"child JVM failed: ${p.exitValue()}")
    }
    // Both JVMs' commits all survived: 10 contiguous snapshots, every file
    // referenced, full union readable.
    assert(IcebergishTable.currentSnapshot(table) == s0 + 10)
    val finalFiles = Manifest.read(
      table, IcebergishTable.currentSnapshot(table)).paths
    assert(finalFiles.count(_.contains("race-jvmA")) == perChild)
    assert(finalFiles.count(_.contains("race-jvmB")) == perChild)
    finalFiles.foreach(f => assert(
      Files.exists(java.nio.file.Paths.get(table, f)), s"missing file $f"))
    assert(IcebergishTable.read(spark, table).count() ==
      rowsBefore + 2 * perChild * seedRows)
  }

  test("part-filtered manifest reads prune at the FILE level (the COW/stream bucket-scoping premise)") {
    import spark.implicits._
    val table = specDir("graft-prune").toString + "/t"
    IcebergishTable.write(
      spark.range(0, 1000).select(concat(lit("k"), col("id") % 37).as("k"),
        col("id").as("v")),
      table, "k", 8)
    val pruned = IcebergishTable.read(spark, table)
      .where(col(IcebergishTable.PartCol).isin(2, 5))
    // Materialize THIS df's own query execution, then read the scan node's
    // metrics from the same plan instance.
    assert(pruned.collect().length > 0)
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
      .getOrElse(fail("no batch scan in plan"))
    assert(scan.toString.contains("buckets=List(2, 5)"), scan.toString.take(400))
    // Only the two requested buckets' files are read — deleteWhere/
    // mergeRows/the streaming anti-join read exactly the buckets they
    // touch, not the table. (One file per bucket by construction.)
    val files = scan.inputPartitions.collect {
      case p: graft.sources.v2.GraftBucketPartition => p.files.length
    }.sum
    assert(files == 2, s"files read: $files")
  }

  test("COW deleteWhere rewrites only touched buckets; time travel keeps deleted rows") {
    import spark.implicits._
    val table = specDir("graft-del").toString + "/t"
    IcebergishTable.write(
      (0 until 64).map(i => (s"k${i % 16}", i.toLong)).toDF("k", "v"),
      table, "k", 8)
    val s0 = IcebergishTable.currentSnapshot(table)
    val before = Manifest.read(table, s0).paths

    // Delete one key's rows (4 of 64). NULL-eval rows must survive: the
    // condition is null for v = 63 (planted via nullif) — not deleted.
    val cond = (col("k") === "k3") || (expr("nullif(v, 63)") > 100L)
    val deleted = IcebergishTable.deleteWhere(spark, table, cond)
    assert(deleted == 4, s"deleted $deleted")
    val now = IcebergishTable.read(spark, table)
    assert(now.count() == 60)
    assert(now.where(col("k") === "k3").count() == 0)
    assert(now.where(col("v") === 63L).count() == 1) // null-cond row kept

    // Only the hit bucket was rewritten: every other bucket's files carry
    // forward BYTE-IDENTICAL (same relative paths).
    val hitBucket = Seq(("k3", 1)).toDF("k", "x")
      .select(IcebergishTable.partExpr("k", 8)).head().getInt(0)
    val after = Manifest.read(
      table, IcebergishTable.currentSnapshot(table)).paths
    val untouchedBefore = before.filterNot(f =>
      IcebergishTable.bucketOfPath(f) == hitBucket).toSet
    assert(untouchedBefore.subsetOf(after.toSet),
      s"untouched buckets rewritten: ${untouchedBefore -- after.toSet}")
    assert(!after.exists(f => before.contains(f) &&
      IcebergishTable.bucketOfPath(f) == hitBucket),
      "hit bucket's old files still referenced")

    // Time travel: the pre-delete snapshot still shows the deleted rows.
    assert(IcebergishTable.readSnapshot(spark, table, s0).count() == 64)
    // Expiry reclaims the replaced files.
    IcebergishTable.expireSnapshots(table, keepLast = 1)
    intercept[SnapshotNotFound] {
      IcebergishTable.readSnapshot(spark, table, s0).count()
    }
    assert(IcebergishTable.read(spark, table).count() == 60)

    // A no-match delete is a free no-op (no new snapshot).
    val snapBefore = IcebergishTable.currentSnapshot(table)
    assert(IcebergishTable.deleteWhere(spark, table, col("k") === "nope") == 0)
    assert(IcebergishTable.currentSnapshot(table) == snapBefore)
  }

  test("COW mergeRows upserts atomically: updates replace by key, inserts append, one commit") {
    import spark.implicits._
    val table = specDir("graft-mrg").toString + "/t"
    IcebergishTable.write(
      (0 until 40).map(i => (s"k${i % 10}", i.toLong, s"old$i"))
        .toDF("k", "id", "tag"),
      table, "k", 8)
    val s0 = IcebergishTable.currentSnapshot(table)
    // Updates: ids 0-9 get new tags; ids 100-104 are fresh inserts.
    val updates = ((0 until 10).map(i => (s"k${i % 10}", i.toLong, s"new$i")) ++
      (100 until 105).map(i => (s"k${i % 10}", i.toLong, s"ins$i")))
      .toDF("k", "id", "tag")
    IcebergishTable.mergeRows(table, updates, Seq("k", "id"))
    assert(IcebergishTable.currentSnapshot(table) == s0 + 1) // ONE commit

    val now = IcebergishTable.read(spark, table)
      .select("id", "tag").as[(Long, String)].collect().toMap
    assert(now.size == 45)
    (0 until 10).foreach(i => assert(now(i.toLong) == s"new$i"))
    (10 until 40).foreach(i => assert(now(i.toLong) == s"old$i"))
    (100 until 105).foreach(i => assert(now(i.toLong) == s"ins$i"))
    // Pre-merge snapshot still time-travels to the old tags.
    val old = IcebergishTable.readSnapshot(spark, table, s0)
      .select("id", "tag").as[(Long, String)].collect().toMap
    assert(old.size == 40 && old(0L) == "old0")

    // Cross-bucket key move: merging ON A SURROGATE KEY ONLY (id), with an
    // update that changes the BUCKET key (k) for an existing id — the old
    // row lives in a bucket the update does not hash into, and must still
    // be replaced (key-pruned scan widens the touched set), not survive
    // beside the insert as a duplicate id.
    IcebergishTable.mergeRows(table,
      Seq(("moved", 5L, "mv5")).toDF("k", "id", "tag"), Seq("id"))
    val afterMove = IcebergishTable.read(spark, table)
      .where(col("id") === 5L)
      .select("k", "tag").as[(String, String)].collect().toSeq
    assert(afterMove == Seq(("moved", "mv5")), s"got $afterMove")
    assert(IcebergishTable.read(spark, table).count() == 45) // no dup id
  }

  test("removeOrphans reclaims promote-then-crash leftovers; referenced and staged files survive") {
    import spark.implicits._
    val table = specDir("graft-orph").toString + "/t"
    IcebergishTable.write(
      (0 until 8).map(i => (s"k$i", i.toLong)).toDF("k", "v"), table, "k", 4)
    val seed = Manifest.read(
      table, IcebergishTable.currentSnapshot(table)).paths.head
    val bucket = IcebergishTable.bucketOfPath(seed)
    def plantAged(rel: String): java.nio.file.Path = {
      val p = java.nio.file.Paths.get(table, rel)
      Files.createDirectories(p.getParent)
      Files.copy(java.nio.file.Paths.get(table, seed), p)
      Files.setLastModifiedTime(p, // simulated crash two hours ago
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 7200000L))
      p
    }
    // An aged orphan (promoted, never committed), an aged STAGED file in a
    // tree whose directories are fresh (a writer still staging — its tree
    // is as young as its newest entry), and a fresh orphan (inside the
    // grace window of a possibly-mid-promote writer).
    val orphan = plantAged(s"data/part=$bucket/orphan-old.parquet")
    val staged = plantAged(s"data/_staging/batch-x/part=$bucket/in-flight.parquet")
    val fresh = java.nio.file.Paths.get(table, s"data/part=$bucket/orphan-new.parquet")
    Files.copy(java.nio.file.Paths.get(table, seed), fresh)

    val removed = IcebergishTable.removeOrphans(table, olderThanMs = 3600000L)
    assert(removed == Seq(s"data/part=$bucket/orphan-old.parquet"), removed)
    assert(!Files.exists(orphan))
    assert(Files.exists(staged) && Files.exists(fresh))
    // Every committed file untouched; reads unaffected.
    Manifest.read(table, IcebergishTable.currentSnapshot(table)).paths
      .foreach(f => assert(Files.exists(java.nio.file.Paths.get(table, f))))
    assert(IcebergishTable.read(spark, table).count() == 8)
  }

  test("removeOrphans reclaims a crashed writer's aged staging tree; a fresh one survives") {
    import spark.implicits._
    val table = specDir("graft-orph-staging").toString + "/t"
    IcebergishTable.write(
      (0 until 8).map(i => (s"k$i", i.toLong)).toDF("k", "v"), table, "k", 4)
    val seed = java.nio.file.Paths.get(table, Manifest.read(
      table, IcebergishTable.currentSnapshot(table)).paths.head)
    // Stage one file under a writer's tree; `ageMs` ages the file and every
    // directory of the tree (a writer that crashed that long ago).
    def stage(uid: String, ageMs: Long): java.nio.file.Path = {
      val tree = java.nio.file.Paths.get(table, TableFileWriter.staging(uid))
      val f = tree.resolve("part=0/part-00000-x-0.parquet")
      Files.createDirectories(f.getParent)
      Files.copy(seed, f)
      val t = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ageMs)
      Seq(f, f.getParent, tree).foreach(Files.setLastModifiedTime(_, t))
      tree
    }
    val crashed = stage("crashed", 7200000L)
    val live = stage("live", 0L)

    val removed = IcebergishTable.removeOrphans(table, olderThanMs = 3600000L)
    assert(removed == Seq(s"${TableFileWriter.staging("crashed")}/part=0/part-00000-x-0.parquet"),
      removed)
    assert(!Files.exists(crashed), "the crashed writer's staging tree survived")
    assert(Files.exists(live.resolve("part=0/part-00000-x-0.parquet")))
    assert(IcebergishTable.read(spark, table).count() == 8)
  }

  test("slow-staged writes survive vacuum: promote restarts the grace clock") {
    import spark.implicits._
    val table = specDir("graft-slowstage").toString + "/t"
    IcebergishTable.write(
      (0 until 8).map(i => (s"k$i", i.toLong)).toDF("k", "v"), table, "k", 4)
    val seed = Manifest.read(
      table, IcebergishTable.currentSnapshot(table)).paths.head
    val bucket = IcebergishTable.bucketOfPath(seed)
    // A writer that STAGED two hours ago (longer than the vacuum grace)
    // and only now promotes: Files.move preserves mtime, so without the
    // promote-time refresh its file would look expired the moment it
    // became vacuum-visible — a concurrent vacuum could reap it inside
    // the promote→commit window.
    val stagedRel = s"${TableFileWriter.staging("slow")}/part=$bucket/part-00000-slow-0.parquet"
    val staged = java.nio.file.Paths.get(table, stagedRel)
    Files.createDirectories(staged.getParent)
    Files.copy(java.nio.file.Paths.get(table, seed), staged)
    Files.setLastModifiedTime(staged,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 7200000L))
    IcebergishTable.appendStaged(table, "slow", Seq(WrittenFile(bucket, stagedRel)), "qslow", 0L)
    val promoted = java.nio.file.Paths.get(table, s"data/part=$bucket/part-00000-slow-0.parquet")
    assert(Files.exists(promoted))
    // Grace clock restarted: the promoted file's mtime is NOW, not the
    // two-hour-old staging time.
    assert(System.currentTimeMillis() -
      Files.getLastModifiedTime(promoted).toMillis < 300000L,
      "promote did not refresh mtime — vacuum grace starts in the past")
    // And a vacuum with the default grace leaves it (and all data) alone.
    assert(IcebergishTable.removeOrphans(table, olderThanMs = 3600000L).isEmpty)
    assert(Files.exists(promoted))
    assert(IcebergishTable.read(spark, table).count() == 9)
  }

  test("replace-type commits abort with CommitConflict when another writer lands first") {
    import spark.implicits._
    val table = specDir("graft-cc2").toString + "/t"
    IcebergishTable.write(
      (0 until 8).map(i => (s"k$i", i.toLong)).toDF("k", "v"), table, "k", 4)
    val s0 = IcebergishTable.currentSnapshot(table)
    val seed = Manifest.read(table, s0).paths.head
    def plant(name: String): String = {
      val rel = s"data/part=${IcebergishTable.bucketOfPath(seed)}/$name"
      Files.copy(java.nio.file.Paths.get(table, seed),
        java.nio.file.Paths.get(table, rel))
      rel
    }
    // Pinned against s0, no intervening commit: succeeds.
    assert(IcebergishTable.commitAddedFiles(table, Seq(plant("cc-a.parquet")),
      expectedParent = Some(s0)) == s0 + 1)
    // Pinned against s0 AFTER another commit landed: typed abort — a
    // replace-all merge onto the unseen parent would drop cc-a.parquet.
    val planted = plant("cc-b.parquet")
    intercept[CommitConflict] {
      IcebergishTable.commitAddedFiles(table, Seq(planted),
        expectedParent = Some(s0))
    }
    assert(IcebergishTable.currentSnapshot(table) == s0 + 1) // nothing committed
  }

  test("schema evolution: addColumn widens the current schema, time travel keeps the old one") {
    import spark.implicits._
    import org.apache.spark.sql.types.StringType
    val table = specDir("graft-ev").toString + "/t"
    IcebergishTable.write(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), table, "k", 4)
    val sOld = IcebergishTable.currentSnapshot(table)

    IcebergishTable.addColumn(table, "lang", StringType)
    val sEvolved = IcebergishTable.currentSnapshot(table)
    assert(sEvolved == sOld + 1) // metadata-only snapshot

    // Current read: widened schema, old rows read the new column as null.
    val cur = IcebergishTable.read(spark, table)
    assert(cur.columns.toSeq == Seq("k", "v", "lang", "part"))
    assert(cur.where(col("lang").isNull).count() == 2)

    // Append new-schema rows; both eras coexist in one read.
    IcebergishTable.write(Seq(("c", 3L, "en")).toDF("k", "v", "lang"),
      table, "k", 4, org.apache.spark.sql.SaveMode.Append)
    val all = IcebergishTable.read(spark, table)
      .select("k", "lang").as[(String, String)].collect().toSet
    assert(all == Set(("a", null), ("b", null), ("c", "en")))

    // A PRE-evolution writer (subset schema) still appends legally, and the
    // manifest keeps the WIDENED schema (no regression).
    IcebergishTable.write(Seq(("d", 4L)).toDF("k", "v"),
      table, "k", 4, org.apache.spark.sql.SaveMode.Append)
    val after = IcebergishTable.read(spark, table)
    assert(after.columns.toSeq == Seq("k", "v", "lang", "part"))
    assert(after.where(col("k") === "d" && col("lang").isNull).count() == 1)

    // A writer INVENTING a column is rejected typed, told to evolve first.
    val err = intercept[SchemaMismatch] {
      IcebergishTable.write(
        Seq(("e", 5L, "fr", 1.5)).toDF("k", "v", "lang", "score"),
        table, "k", 4, org.apache.spark.sql.SaveMode.Append)
    }
    assert(err.getMessage.contains("addColumn"))
    // …and a type-incompatible write is rejected too.
    intercept[SchemaMismatch] {
      IcebergishTable.write(Seq(("f", "not-a-long")).toDF("k", "v"),
        table, "k", 4, org.apache.spark.sql.SaveMode.Append)
    }

    // Time travel: the pre-evolution snapshot reads with the OLD schema.
    val old = IcebergishTable.readSnapshot(spark, table, sOld)
    assert(old.columns.toSeq == Seq("k", "v", "part"))
    assert(old.count() == 2)

    // Duplicate column addition is rejected typed.
    intercept[InvalidConfig] {
      IcebergishTable.addColumn(table, "LANG", StringType)
    }
  }

  test("appends onto a pre-versioned bucket layout (no bucket_fn) are refused") {
    import spark.implicits._
    val table = specDir("graft-fn").toString + "/t"
    IcebergishTable.write(
      Seq(("a", 1L)).toDF("k", "v"), table, "k", 4)
    // Simulate a table committed by the pre-murmur3 layout: strip the
    // bucket_fn field from the current manifest.
    val snap = IcebergishTable.currentSnapshot(table)
    val m = java.nio.file.Paths.get(table, s"snap-$snap.json")
    val json = new String(Files.readAllBytes(m), "UTF-8")
      .replace(s""""bucket_fn":"${IcebergishTable.BucketFn}",""", "")
    Files.write(m, json.getBytes("UTF-8"))
    val err = intercept[BucketSpecMismatch] {
      IcebergishTable.write(Seq(("b", 2L)).toDF("k", "v"), table, "k", 4,
        org.apache.spark.sql.SaveMode.Append)
    }
    assert(err.getMessage.contains("bucket_fn"))
  }

  test("expiry after a compaction reclaims the replaced files from the manifests alone") {
    import spark.implicits._
    val table = specDir("graft-expleak").toString + "/t"
    (0 until 3).foreach { i =>
      IcebergishTable.write(Seq((s"a$i", i.toLong), (s"b$i", i.toLong)).toDF("k", "v"),
        table, "k", 4, org.apache.spark.sql.SaveMode.Append)
    }
    val before = IcebergishTable.read(spark, table).as[(String, Long, Int)].collect().toSet
    IcebergishTable.compact(spark, table, 4, "k")
    // The state a crash between the compaction's commit and its ledger
    // write leaves: no record of the replaced files outside the manifests.
    Files.deleteIfExists(java.nio.file.Paths.get(table, "TOMBSTONES"))
    IcebergishTable.expireSnapshots(table, keepLast = 1)
    val current = Manifest.read(table, IcebergishTable.currentSnapshot(table)).paths.toSet
    assert(dataFilesOnDisk(table) == current,
      s"leaked past expiry: ${dataFilesOnDisk(table) -- current}")
    assert(IcebergishTable.read(spark, table).as[(String, Long, Int)].collect().toSet == before)
  }

  test("a stream epoch's crashed promote is an orphan that removeOrphans reclaims") {
    import spark.implicits._
    val table = specDir("graft-sweep").toString + "/t"
    val root = java.nio.file.Paths.get(table)
    IcebergishTable.createEmpty(table,
      Seq(Triple("A", "p", "B", "u", 1.0)).toDF.schema, "subj", 4)
    val q = "q1"
    // One parquet file staged the way the DSv2 sink's task stages it for
    // the write `uid`.
    def stage(uid: String, subj: String): WrittenFile = {
      val rows = Seq(Triple(subj, "p", "B", s"u-$subj", 1.0)).toDF
      val b = Seq(subj).toDF("k").select(IcebergishTable.partExpr("k", 4)).head().getInt(0)
      val tmp = specDir("graft-sweep-stage")
      spark.createDataFrame(rows.rdd, IcebergishTable.annotateFieldIds(table, rows.schema))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val written = Files.list(tmp).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val rel = s"${TableFileWriter.staging(uid)}/part=$b/part-00000-$uid-0.parquet"
      Files.createDirectories(root.resolve(rel).getParent)
      Files.move(written, root.resolve(rel))
      WrittenFile(b, rel)
    }
    def subjects(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("subj").as[String].collect().toSeq.sorted
    IcebergishTable.appendStaged(table, "e0", Seq(stage("e0", "A")), q, 0L)
    IcebergishTable.appendStaged(table, "e1", Seq(stage("e1", "C")), q, 1L)

    // Epoch 2 promotes its file into the bucket dir, then crashes before
    // the manifest swap; its retry (a fresh write uid) commits it once.
    val WrittenFile(b, staged, _, _) = stage("e2a", "E")
    val orphan = s"data/part=$b/${java.nio.file.Paths.get(staged).getFileName}"
    Files.createDirectories(root.resolve(orphan).getParent)
    Files.move(root.resolve(staged), root.resolve(orphan))
    val beforeRetry = IcebergishTable.currentSnapshot(table)
    IcebergishTable.appendStaged(table, "e2b", Seq(stage("e2b", "E")), q, 2L)
    assert(IcebergishTable.currentSnapshot(table) == beforeRetry + 1)
    assert(IcebergishTable.streamEpoch(table, q) == Some(2L))
    assert((0 to IcebergishTable.currentSnapshot(table)).forall(s =>
      !Manifest.read(table, s).paths.contains(orphan)), "crashed attempt's file committed")
    assert(subjects(IcebergishTable.read(spark, table)) == Seq("A", "C", "E"))
    assert(IcebergishTable.removeOrphans(table, 0L) == Seq(orphan))
    assert(subjects(IcebergishTable.read(spark, table)) == Seq("A", "C", "E"))

    // After a compaction, the next epoch leaves the replaced files of
    // earlier epochs alone: the pre-compaction snapshot still reads.
    val preCompact = IcebergishTable.currentSnapshot(table)
    IcebergishTable.compact(spark, table, 4, "subj")
    IcebergishTable.appendStaged(table, "e3", Seq(stage("e3", "G")), q, 3L)
    Manifest.read(table, preCompact).paths.foreach { f =>
      assert(Files.exists(root.resolve(f)), s"replaced file of an earlier epoch swept: $f")
    }
    assert(subjects(IcebergishTable.readSnapshot(spark, table, preCompact)) ==
      Seq("A", "C", "E"))
    assert(subjects(IcebergishTable.read(spark, table)) == Seq("A", "C", "E", "G"))
  }

  test("rollback behind a compaction, then expiry, keeps every file a surviving manifest references") {
    import spark.implicits._
    val table = specDir("graft-rbexp").toString + "/t"
    def keys(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("k").as[String].collect().toSeq.sorted
    IcebergishTable.write(
      (0 until 20).map(i => (s"k$i", i.toLong)).toDF("k", "v"), table, "k", 4)
    val s0 = IcebergishTable.currentSnapshot(table)
    // A copy-on-write delete: s0 references files that s1 does not.
    IcebergishTable.deleteWhere(spark, table, col("v") < 5L)
    val s1 = IcebergishTable.currentSnapshot(table)
    val all0 = keys(IcebergishTable.readSnapshot(spark, table, s0))
    val all1 = keys(IcebergishTable.read(spark, table))
    assert(all0.size == 20 && all1.size == 15)
    val (files0, files1) =
      (Manifest.read(table, s0).paths.toSet, Manifest.read(table, s1).paths.toSet)
    assert((files0 -- files1).nonEmpty)
    IcebergishTable.compact(spark, table, 4, "k")
    IcebergishTable.write(Seq(("z", 99L)).toDF("k", "v"), table, "k", 4,
      org.apache.spark.sql.SaveMode.Append)

    IcebergishTable.rollbackTo(table, s1)
    assert(dataFilesOnDisk(table) == files0 ++ files1)
    assert(keys(IcebergishTable.readSnapshot(spark, table, s0)) == all0)
    assert(keys(IcebergishTable.read(spark, table)) == all1)

    IcebergishTable.expireSnapshots(table, keepLast = 1)
    assert(dataFilesOnDisk(table) == files1)
    assert(keys(IcebergishTable.read(spark, table)) == all1)
  }
}
