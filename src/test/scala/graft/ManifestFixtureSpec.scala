package graft

import java.nio.file.{Files, Paths}

import graft.io.{IcebergishTable, Manifest}

/** Manifests written before the typed codec (the committed fixture from
  * [[ManifestFixtureGen]]: bucket spec with bucket_fn, position and
  * equality deletes, add/rename/drop, a streaming epoch, colstats) still
  * read with the rows, file lists, time travel and zone-map pruning their
  * writer observed, and re-encode to the same bytes.
  */
class ManifestFixtureSpec extends SparkSpec {

  private val fixture =
    Paths.get(getClass.getResource("/manifest-fixture/expected.tsv").toURI).getParent

  private lazy val table: String = {
    val t = specDir("graft-fixture").resolve("table")
    ManifestFixtureGen.copyTable(fixture.resolve("table"), t)
    t.toString
  }

  test("fixture reads back with the recorded rows, files, time travel and pruning") {
    val expected = new String(Files.readAllBytes(fixture.resolve("expected.tsv")),
      "UTF-8").linesIterator.toSeq
    assert(ManifestFixtureGen.expectations(table) == expected)
  }

  test("every optional manifest field decodes") {
    val m = Manifest.read(table, IcebergishTable.currentSnapshot(table))
    assert(m.bucket.contains(("k", 2)))
    assert(m.bucketFn.contains(IcebergishTable.BucketFn))
    assert(m.epochs == Map("q1" -> 7L))
    assert(m.maxFid == 5L)
    assert(m.ghosts == Seq("w", "x"))
    assert(m.deletes.map(d => (IcebergishTable.isEqDeleteFile(d.path), d.seq)) ==
      Seq((false, 5L), (true, 6L)))
    assert(m.files.forall(f => f.size.isDefined && f.rows > 0 && f.stats.nonEmpty))
    assert(Manifest.read(table, IcebergishTable.currentSnapshot(table)).bucketFn
      .contains(IcebergishTable.BucketFn))
    assert(IcebergishTable.manifestEpochs(table) == Map("q1" -> 7L))
  }

  test("re-encoding each decoded fixture manifest reproduces its bytes") {
    (0 to IcebergishTable.currentSnapshot(table)).foreach { s =>
      val bytes = new String(Files.readAllBytes(Manifest.path(table, s)), "UTF-8")
      assert(Manifest.decode(bytes).encode == bytes, s"snap-$s.json")
    }
  }
}
