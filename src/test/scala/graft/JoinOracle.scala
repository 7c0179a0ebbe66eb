package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.link.{AliasTrie, Mentions}
import graft.triples.{RelCandidate, TripleExtract}

/** The join-based extraction operators, kept as the specs' oracle for the
  * fused pass ([[TripleExtract.extractDirect]], [[graft.Pipeline.canonicalTriples]]):
  * one scan pass per page emits mentions and candidates, linking is a
  * broadcast hash join plus a tie-break window, and candidates resolve to
  * triples through two joins. Composed with
  * [[TripleExtract.canonicalize]] over [[graft.canon.ConnectedComponents]],
  * they are an independent implementation of the build's triples.
  */
object JoinOracle {

  /** Fused single-pass scan output: one row per page carrying both the
    * mention spans and the relation candidates, so the (expensive) HTML
    * extraction + trie walk happens exactly once per page — the analog of
    * the reference decoding each batch once and fanning results out
    * (the reference's `src/graph_loader.rs:420-472`).
    */
  final case class PageScan(url: String,
                            mentions: Seq[Mention],
                            cands: Seq[RelCandidate])

  /** Single narrow pass over pages: mentions + relation candidates. */
  def scanPages(pages: Dataset[Page], aliases: Seq[Alias],
                phrases: Map[String, String]): Dataset[PageScan] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val trieB = spark.sparkContext.broadcast(
      AliasTrie.build(aliases.map(_.alias).distinct))
    val phrasesB = spark.sparkContext.broadcast(phrases)
    // Narrow the typed input to the two fields the closure reads — a map
    // over Dataset[Page] would deserialize the html payload per row.
    pages.select($"url", $"text").as[(String, String)].map { case (url, text) =>
      val ms = Mentions.scanText(url, text, trieB.value)
      val cs = TripleExtract.allCandidates(url, text, ms, phrasesB.value)
      PageScan(url, ms, cs)
    }
  }

  /** Entity linking: broadcast hash join + window tie-break. */
  def link(mentions: Dataset[Mention],
           aliases: Dataset[Alias]): Dataset[LinkedMention] = {
    val spark = mentions.sparkSession
    import spark.implicits._
    val w = Window
      .partitionBy($"url", $"begin")
      .orderBy($"score".desc, $"entity".asc)
    mentions
      .join(broadcast(aliases.toDF), $"mention" === $"alias", "inner")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"url", $"mention", $"begin", $"end", $"entity",
        $"score".as("conf"))
      .as[LinkedMention]
  }

  /** Resolve candidates against linked mentions → deduped triples. */
  def triples(cands: Dataset[RelCandidate],
              linked: Dataset[LinkedMention]): Dataset[Triple] = {
    val spark = cands.sparkSession
    import spark.implicits._
    val l = linked.select($"url", $"begin", $"entity", $"conf")
    val subj = l.toDF("url", "beginA", "subj", "confA")
    val obj = l.toDF("url", "beginB", "obj", "confB")
    cands
      .join(subj, Seq("url", "beginA"))
      .join(obj, Seq("url", "beginB"))
      .select($"subj", $"pred", $"obj", $"url",
        least($"confA", $"confB").as("conf"))
      .dropDuplicates("subj", "pred", "obj", "url")
      .as[Triple]
  }
}
