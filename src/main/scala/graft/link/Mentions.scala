package graft.link

import org.apache.spark.sql.Dataset

import graft.{Alias, LinkedMention, Mention, Page}

/** Mention detection + entity linking (SURVEY.md §7.2 #5).
  *
  * Scan: tokenize extracted text (alphanumeric runs with char offsets),
  * longest-match against the broadcast [[AliasTrie]] — a narrow `flatMap`,
  * no shuffle. Matches never span a block ('\n') or any non-single-space
  * gap, mirroring sentence boundaries.
  *
  * Link: the tie-break `(score desc, entity asc)` per alias is context-free,
  * so [[aliasWinners]] reduces the dictionary (the reference's
  * metadata-catalog analog, its `src/graph_loader.rs:1047-1109`)
  * to one winner per alias on the driver and [[linkLocal]] looks each
  * mention up in the broadcast map — no join, no window. The fused pass
  * ([[graft.triples.TripleExtract.extractDirect]]) runs scan and link once
  * per page and fans the result out to the triples, the analog of the
  * reference decoding each batch once (graph_loader.rs:420-472).
  */
object Mentions {

  /** Pure scan of one document's text — char-level, zero allocation in the
    * hot loop until a mention is found (also used by tests directly).
    */
  def scanText(url: String, text: String, trie: AliasTrie): Seq[Mention] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Mention]
    val n = text.length
    var i = 0
    while (i < n) {
      // advance to the next token start
      while (i < n && !text.charAt(i).isLetterOrDigit) i += 1
      if (i < n) {
        val e = trie.matchEnd(text, i)
        if (e > i) {
          out += Mention(url, text.substring(i, e), i, e)
          i = e // non-overlapping, longest match consumes its span
        } else {
          // skip this token
          while (i < n && text.charAt(i).isLetterOrDigit) i += 1
        }
      }
    }
    out.toSeq
  }

  /** Distributed mention scan: narrow map-side flatMap over pages. */
  def scan(pages: Dataset[Page], aliases: Seq[Alias]): Dataset[Mention] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val trieB = spark.sparkContext.broadcast(
      AliasTrie.build(aliases.map(_.alias).distinct))
    pages.select($"url", $"text").as[(String, String)]
      .flatMap { case (url, text) => scanText(url, text, trieB.value) }
  }

  /** Pre-reduced link winners: the tie-break (score desc, entity asc) is
    * context-free, so the winner per alias is computed once driver-side
    * and broadcast — the link step is a map-side lookup with no shuffle.
    */
  def aliasWinners(aliases: Seq[Alias]): Map[String, (String, Double)] =
    aliases.groupBy(_.alias).map { case (a, as) =>
      val best = as.minBy(x => (-x.score, x.entity))
      a -> (best.entity, best.score)
    }

  /** Local (per-row) linking against pre-reduced winners. */
  def linkLocal(ms: Seq[Mention],
                winners: Map[String, (String, Double)]): Seq[LinkedMention] =
    ms.flatMap { m =>
      winners.get(m.mention).map { case (entity, score) =>
        LinkedMention(m.url, m.mention, m.begin, m.end, entity, score)
      }
    }
}
