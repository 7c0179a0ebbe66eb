package graft

import org.apache.spark.sql.DataFrame

import graft.JoinOracle.{link, scanPages, triples}
import graft.canon.ConnectedComponents
import graft.synth.PageSynth
import graft.triples.TripleExtract

/** The KG queries run the build's fused pass; over their own corpus
  * (`SparkEntry.kgPages`) each returns exactly the rows of the join-based
  * [[JoinOracle]] composition. The driver checks these queries for
  * rows > 0 only.
  */
class KgQueryOracleSpec extends SparkSpec {

  private def query(name: String): DataFrame = SparkEntry.queries(name)(spark, "")

  test("kg_linked, kg_triples and kg_edges return the join-based oracle's rows") {
    import spark.implicits._
    val scanned = scanPages(SparkEntry.kgPages(spark),
      PageSynth.aliasDictionary, PageSynth.relations.toMap).localCheckpoint()
    val linked = link(scanned.flatMap(_.mentions), PageSynth.aliases(spark))
      .localCheckpoint()
    val raw = triples(scanned.flatMap(_.cands), linked)
    val canonical = TripleExtract.canonicalize(raw, ConnectedComponents.components(
      PageSynth.sameAs(spark).toDF("src", "dst")))

    // Row multisets: collected as sequences, so a duplicate row on either
    // side fails the compare.
    def mentions(df: DataFrame): Seq[(String, Int, Int, String, Double)] =
      df.select("url", "begin", "end", "entity", "conf")
        .as[(String, Int, Int, String, Double)].collect().toSeq.sorted
    def edges(df: DataFrame): Seq[(String, String, String, String)] =
      df.select("subj", "pred", "obj", "url")
        .as[(String, String, String, String)].collect().toSeq.sorted

    val wantLinked = mentions(linked.toDF)
    assert(wantLinked.nonEmpty)
    assert(mentions(query("kg_linked")) == wantLinked)

    val wantRaw = edges(raw.toDF)
    val wantCanonical = edges(canonical.toDF)
    assert(wantRaw.nonEmpty && wantCanonical != wantRaw,
      "the corpus must exercise canonicalization")
    assert(edges(query("kg_triples")) == wantRaw)
    assert(edges(query("kg_edges")) == wantCanonical)
  }
}
