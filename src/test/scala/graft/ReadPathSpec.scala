package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

import graft.io.{IcebergishTable, Manifest}
import graft.sources.v2.GraftCatalog

/** The table read path: what `IcebergishTable.read` returns, how it fails,
  * which session state reaches its parquet reader, and what a stream of a
  * table emits when a merge-on-read delete lands inside its offset range.
  */
class ReadPathSpec extends SparkSpec {

  private def tmpTable(prefix: String): String =
    specDir(prefix).resolve("t").toString

  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("read's output schema: renamed and added columns, field ids, part as an ordinary column") {
    import spark.implicits._
    val t = tmpTable("graft-rschema")
    IcebergishTable.write(Seq(("a", 1L, "x"), ("b", 2L, "y")).toDF("k", "v", "w"),
      t, "k", 4)
    IcebergishTable.renameColumn(t, "w", "label")
    IcebergishTable.addColumn(t, "extra", IntegerType)
    val df = IcebergishTable.read(spark, t)
    // Taken from the parquet-relation read this path replaced.
    val expected = Seq(
      ("k", "string", """{"parquet.field.id":1}"""),
      ("v", "bigint", """{"parquet.field.id":2}"""),
      ("label", "string", """{"parquet.field.id":3}"""),
      ("extra", "int", """{"parquet.field.id":4}"""),
      ("part", "int", "{}"))
    assert(df.schema.fields.toSeq.map(f =>
      (f.name, f.dataType.simpleString, f.metadata.json)) == expected)
    assert(df.columns.toSeq == expected.map(_._1))
    assert(df.select("*").columns.contains(IcebergishTable.PartCol))
    val rows = df.orderBy("k").select("k", "v", "label", "extra").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.isNullAt(3)))
    assert(rows.toSeq == Seq(("a", 1L, "x", true), ("b", 2L, "y", true)))
  }

  test("read and readVerification of a path with no committed snapshot throw TableNotFound") {
    val t = tmpTable("graft-rmissing")
    intercept[TableNotFound] { IcebergishTable.read(spark, t) }
    intercept[TableNotFound] { IcebergishTable.readVerification(spark, t) }
  }

  test("a runtime conf set after a first read reaches the next read's parquet reader") {
    import spark.implicits._
    val t = tmpTable("graft-rconf")
    IcebergishTable.write((0 until 40).map(i => (s"k$i", i.toLong)).toDF("k", "v"),
      t, "k", 4)
    assert(IcebergishTable.read(spark, t).select("k").collect().length == 40)
    val m = Manifest.read(t, IcebergishTable.currentSnapshot(t))
    val gone = m.files.head
    Files.delete(Paths.get(t).resolve(gone.path))
    withConfs("spark.sql.files.ignoreMissingFiles" -> "true") {
      val n = IcebergishTable.read(spark, t).select("k").collect().length
      assert(n == 40 - gone.rows, s"read $n rows")
    }
  }

  test("a micro-batch over an append and a MOR delete of one of its rows emits the append minus that row") {
    import spark.implicits._
    val base = specDir("graft-rmor").toString
    val t = s"$base/t"
    IcebergishTable.write(Seq(("A", 1L), ("B", 2L)).toDF("k", "v"), t, "k", 4)
    IcebergishTable.write(Seq(("C", 3L), ("D", 4L), ("E", 5L)).toDF("k", "v"),
      t, "k", 4, org.apache.spark.sql.SaveMode.Append)
    assert(IcebergishTable.deleteWhere(spark, t, col("k") === "D",
      morMaxRows = 10L) == 1L)
    assert(Manifest.read(t, IcebergishTable.currentSnapshot(t)).deletes.nonEmpty,
      "the delete must be merge-on-read")
    val out = s"$base/out"
    withConfs("spark.sql.catalog.graft_rmor" -> classOf[GraftCatalog].getName,
      "spark.sql.catalog.graft_rmor.warehouse" -> base) {
      val q = spark.readStream.table("graft_rmor.t")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(q.recentProgress.count(_.numInputRows > 0) == 1,
        "the offset range must plan as one micro-batch")
    }
    val got = spark.read.parquet(out).select("k").as[String].collect().sorted
    assert(got.toSeq == Seq("A", "B", "C", "E"))
  }

  test("kg_spj reads its own build, not a graft_q catalog initialized at another warehouse") {
    val s2 = spark.newSession()
    val other = specDir("graft-spj-other").toString
    Pipeline.build(s2, PipelineConfig(seed = 7L, nPages = 60L,
      partitions = 2, outputBuckets = 8, workDir = other, runId = "other"))
    s2.conf.set("spark.sql.catalog.graft_q", classOf[GraftCatalog].getName)
    s2.conf.set("spark.sql.catalog.graft_q.warehouse", other)
    assert(s2.table("graft_q.edges").count() > 0) // the catalog is initialized
    val own = specDir("graft-spj-own").toString
    Pipeline.build(s2, PipelineConfig(seed = 42L, nPages = 200L,
      partitions = 4, outputBuckets = 8, workDir = own, runId = "spj"))
    val e = IcebergishTable.read(s2, s"$own/edges")
    val v = IcebergishTable.read(s2, s"$own/vertices")
    val joined = e.join(v, e("subj") === v("id"))
      .groupBy(v("id").as("id"))
      .agg(count(lit(1)).as("out_triples"),
        first(v("props")("degree").cast("long")).as("degree"))
    // Two path reads join storage-partitioned: no exchange on either side.
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plan = joined.queryExecution.executedPlan.toString
    s2.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert(!plan.contains("Exchange"), plan)
    val want = joined.collect().map(_.toSeq).toSet
    val got = SparkEntry.queries("kg_spj")(s2, "")
      .collect().map(_.toSeq).toSet
    assert(want.nonEmpty && got == want)
  }
}
