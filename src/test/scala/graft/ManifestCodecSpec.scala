package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean

import graft.io.{DataFile, DeleteFile, IcebergishTable, Manifest, RootCommit, RootManifest}

/** The snapshot and root manifests must carry arbitrary column names and
  * member names through a commit and back, whatever JSON-significant
  * characters they hold.
  */
class ManifestCodecSpec extends SparkSpec {
  import ManifestCodecSpec.textGen

  private def freshDir(prefix: String) = specDir(prefix)

  private def check(name: String, prop: Prop, n: Int = 100): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, s"$name: $res")
  }

  private val manifestGen: Gen[Manifest] = for {
    snapshot <- Gen.choose(0, Int.MaxValue)
    bucket <- Gen.option(Gen.zip(textGen, Gen.choose(1, 1024)))
    bucketFn <- Gen.option(textGen)
    epochs <- Gen.mapOf(Gen.zip(textGen, Gen.long))
    maxFid <- Gen.choose(0L, Long.MaxValue)
    ghosts <- Gen.listOf(textGen)
    deletes <- Gen.listOf(Gen.zip(textGen, Gen.long).map(DeleteFile.tupled))
    partitions <- Gen.listOf(Gen.choose(0, 4096))
    sized <- Gen.oneOf(true, false)
    files <- Gen.listOf(for {
      path <- textGen
      size <- Gen.choose(0L, Long.MaxValue)
      seq <- Gen.long
      rows <- Gen.long
      stats <- Gen.mapOf(Gen.zip(textGen, Gen.zip(textGen, textGen)))
    } yield DataFile(path, Option.when(sized)(size), seq, rows, stats))
    columns <- Gen.listOf(textGen)
  } yield Manifest(snapshot, 0L, bucket, bucketFn, epochs, maxFid, ghosts,
    deletes, partitions, files,
    StructType(columns.map(StructField(_, LongType))))

  test("codec round-trip: any manifest decodes to itself") {
    check("manifest", Prop.forAll(manifestGen) { m =>
      Manifest.decode(m.encode) == m
    })
    check("root", Prop.forAll(Gen.choose(0, Int.MaxValue),
        Gen.mapOf(Gen.zip(textGen, Gen.choose(0, Int.MaxValue)))) { (r, tables) =>
      RootManifest.decode(RootManifest(r, tables).encode) == RootManifest(r, tables)
    })
  }

  test("column names round-trip through add, rename and drop, and come back as ghosts") {
    import spark.implicits._
    val names = for {
      a <- textGen.suchThat(_.nonEmpty)
      b <- textGen.suchThat(_.nonEmpty)
    } yield (a, b)
    def taken(n: String) = Seq("k", IcebergishTable.PartCol).exists(_.equalsIgnoreCase(n))
    check("names", Prop.forAll(names) { case (a, b) =>
      (!a.equalsIgnoreCase(b) && !taken(a) && !taken(b)) ==> {
        val t = freshDir("graft-prop-names").resolve("t").toString
        IcebergishTable.createEmpty(t,
          StructType(Seq(StructField("k", StringType))), "k", 2)
        def current = IcebergishTable.currentSnapshot(t)
        def columns = Manifest.read(t, current).schema.fieldNames.toSeq
        IcebergishTable.addColumn(t, a, LongType)
        val added = columns == Seq("k", a, "part")
        IcebergishTable.renameColumn(t, a, b)
        val renamed = columns == Seq("k", b, "part") &&
          Manifest.read(t, current).ghosts == Seq(a)
        IcebergishTable.dropColumn(t, b)
        IcebergishTable.commitAddedFiles(t, Seq.empty)
        // An empty epoch commits nothing: the epoch rides a one-row append.
        IcebergishTable.appendPrePartitioned(Seq("k1").toDF("k")
          .withColumn(IcebergishTable.PartCol, IcebergishTable.partExpr("k", 2)),
          t, 2, "k", a, 3L)
        added && renamed && columns == Seq("k", "part") &&
          Manifest.read(t, current).ghosts == Seq(a, b).sorted &&
          IcebergishTable.manifestEpochs(t) == Map(a -> 3L)
      }
    }, n = 40)
  }

  test("ghost names holding ',' and ']' come back exactly, across a later append") {
    import spark.implicits._
    val t = freshDir("graft-ghosts").resolve("t").toString
    IcebergishTable.createEmpty(t, StructType(Seq(
      StructField("a,b", StringType), StructField("x]y", LongType),
      StructField("k", StringType))), "k", 2)
    IcebergishTable.dropColumn(t, "a,b")
    IcebergishTable.dropColumn(t, "x]y")
    val expected = Seq("a,b", "x]y")
    assert(Manifest.read(t,
      IcebergishTable.currentSnapshot(t)).ghosts == expected)
    // The append re-reads the parent's ghost list and writes it back.
    IcebergishTable.write(Seq("k1").toDF("k"), t, "k", 2, SaveMode.Append)
    assert(Manifest.read(t,
      IcebergishTable.currentSnapshot(t)).ghosts == expected)
    assert(IcebergishTable.read(spark, t).count() == 1)
  }

  test("root members whose names hold '\\' or '\"' round-trip through tablesOf") {
    val dir = freshDir("graft-root-names")
    val names = Seq("back\\slash\\", "quo\"te", "both\\\"mix")
    names.foreach { n =>
      IcebergishTable.createEmpty(dir.resolve(n).toString,
        StructType(Seq(StructField("k", StringType))), "k", 2)
    }
    val pinned = names.map(_ -> 0).toMap
    val r = RootCommit.commit(dir.toString, pinned)
    assert(RootCommit.tablesOf(dir.toString) == pinned)
    assert(RootCommit.tablesOf(dir.toString, r) == pinned)
    // The root manifest on disk is valid JSON.
    val bytes = new String(Files.readAllBytes(
      Paths.get(dir.toString, s"root-$r.json")), "UTF-8")
    org.json4s.jackson.JsonMethods.parse(bytes)
  }
}

object ManifestCodecSpec {

  /** Strings built from JSON-significant characters, control characters,
    * BMP text and non-BMP code points (never lone surrogates — those are
    * not text and cannot survive UTF-8).
    */
  val textGen: Gen[String] = {
    def cp(lo: Int, hi: Int) =
      Gen.choose(lo, hi).map(c => new String(Character.toChars(c)))
    Gen.listOf(Gen.frequency(
      4 -> Gen.oneOf(",", "]", "}", "\"", "\\", "[", "{", ":", " ", "/"),
      2 -> cp(0, 0x1f),
      3 -> Gen.alphaNumChar.map(_.toString),
      1 -> cp(0x7f, 0xd7ff),
      1 -> cp(0xe000, 0xffff),
      2 -> cp(0x10000, 0x10ffff))).map(_.mkString)
  }
}
