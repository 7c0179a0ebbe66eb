package graft.triples

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.{Page, Triple}
import graft.link.{AliasTrie, Mentions}

/** Relation candidate: two adjacent mentions in one sentence whose gap text
  * equals a relation phrase. Carries offsets only — the fused pass resolves
  * them against the page's linked mentions.
  */
final case class RelCandidate(
    url: String,
    beginA: Int,
    beginB: Int,
    pred: String
)

/** Triple extraction (SURVEY.md §7.2 #6).
  *
  * One narrow pass per page ([[TripleExtract.extractDirect]]): find mention
  * spans, link them against the broadcast alias winners, then for
  * consecutive spans within a block check the between-text against the
  * broadcast relation-phrase map ([[RelCandidate]]) and resolve each
  * candidate's two offsets to their linked entities on the spot. The heavy
  * `text` column never leaves the scan stage — only triple rows do,
  * mirroring how the reference ships only ids + projected fields out of
  * decode (the reference's `src/graph_loader.rs:455-471`). Duplicates
  * (subj, pred, obj, url) are left to the caller's dedup.
  */
object TripleExtract {

  /** The trimmed gap phrase of `text[from, until)`, or null when the gap
    * crosses a block ('\n' present) — exactly
    * `{ val g = text.substring(from, until); if (g.contains('\n')) null
    *    else g.trim }` without the intermediate substring (String.trim
    * strips chars <= ' ', mirrored here). One allocation per phrase
    * lookup instead of two, and none at all for cross-block gaps — this
    * runs once per adjacent mention pair of every page in the build's
    * dominant scan stage.
    */
  private def gapPhrase(text: String, from: Int, until: Int): String = {
    var i = from
    while (i < until) {
      if (text.charAt(i) == '\n') return null
      i += 1
    }
    var s = from
    var e = until
    while (s < e && text.charAt(s) <= ' ') s += 1
    while (e > s && text.charAt(e - 1) <= ' ') e -= 1
    text.substring(s, e)
  }

  /** Candidates from one page's already-scanned mentions.
    *
    * Grammar, all gap-EXACT (a `never <phrase>` gap stays silent):
    *  - fact: `A <phrase> B` → (A, pred, B)
    *  - n-ary: `A <phrase> B and C …` distributes pred over conjuncts
    *  - nested clause: `A , which <p1> B , <p2> C` → (A, p1, B) from the
    *    parenthetical AND (A, p2, C) for the outer relation — the clause's
    *    ANCHOR (A), not its object (B), is the outer subject. The comma
    *    grammar is unambiguous: `, which <p1>` opens a clause, a following
    *    `, <p2>` closes it and resumes the anchor.
    */
  def candidatesFromMentions(url: String, text: String,
                             ms: Seq[graft.Mention],
                             phrases: Map[String, String]): Seq[RelCandidate] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[RelCandidate]
    var clauseAnchor = -1 // begin offset of the open clause's anchor subject
    var i = 0
    while (i + 1 < ms.length) {
      val a = ms(i); val b = ms(i + 1)
      val phrase = gapPhrase(text, a.end, b.begin)
      if (phrase != null) {
        phrases.get(phrase) match {
          case Some(pred) =>
            out += RelCandidate(url, a.begin, b.begin, pred)
            // N-ary conjunction: `A <phrase> B and C and D …` distributes
            // the predicate over every conjunct — (A, pred, C), (A, pred, D).
            // The conjunct gap must be exactly "and" (same block), so plain
            // adjacent pairs (B, C) never match a phrase and stay silent.
            var j = i + 2
            var chained = true
            while (chained && j < ms.length) {
              val prev = ms(j - 1); val c = ms(j)
              val g = gapPhrase(text, prev.end, c.begin)
              if (g != null && g == "and") {
                out += RelCandidate(url, a.begin, c.begin, pred)
                j += 1
              } else chained = false
            }
            clauseAnchor = -1
          case None =>
            if (phrase.startsWith(", which ")) {
              // `, which <p1>` — parenthetical clause about A.
              phrases.get(phrase.substring(8)) match {
                case Some(pred) =>
                  out += RelCandidate(url, a.begin, b.begin, pred)
                  clauseAnchor = a.begin
                case None => clauseAnchor = -1
              }
            } else if (clauseAnchor >= 0 && phrase.startsWith(", ")) {
              // `, <p2>` after a clause: outer relation resumes the anchor.
              phrases.get(phrase.substring(2)).foreach { pred =>
                out += RelCandidate(url, clauseAnchor, b.begin, pred)
              }
              clauseAnchor = -1
            } else clauseAnchor = -1
        }
      } else clauseAnchor = -1
      i += 1
    }
    out.toSeq
  }

  /** Anaphora resolution across sentence blocks. Two pronoun forms:
    *
    *  - `It <relation phrase> <mention> …` refers back to the page's TITLE
    *    entity (the first mention, which sits in the first block).
    *  - `The company <relation phrase> <mention> …` refers to the NEAREST
    *    PRECEDING entity mention in text order — which may be the title,
    *    a previous fact sentence's object, or an ambiguous bare-noun
    *    mention inside a filler sentence.
    *
    * Either form emits a candidate anchored at the ANTECEDENT mention's
    * offset, so resolution looks up the already-linked antecedent — no
    * extra linking pass. Blocks are '\n'-delimited (the extractor's
    * block contract); the phrase gap must match EXACTLY (a `never <phrase>`
    * gap stays silent).
    */
  def corefCandidates(url: String, text: String,
                      ms: Seq[graft.Mention],
                      phrases: Map[String, String]): Seq[RelCandidate] = {
    if (ms.isEmpty) return Seq.empty
    val title = ms.head
    val firstNl = text.indexOf('\n')
    if (firstNl < 0 || title.begin > firstNl) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[RelCandidate]
    var mi = 0 // index of the first mention at/after the current block
    var blockStart = firstNl + 1
    while (blockStart < text.length) {
      val nl = text.indexOf('\n', blockStart)
      val blockEnd = if (nl < 0) text.length else nl
      while (mi < ms.length && ms(mi).begin < blockStart) mi += 1
      // (pronoun length, antecedent mention offset)
      val pronoun: Option[(Int, Int)] =
        if (text.startsWith("It ", blockStart)) Some((2, title.begin))
        else if (text.startsWith("The company ", blockStart) && mi > 0)
          Some((11, ms(mi - 1).begin)) // nearest preceding mention
        else None
      pronoun.foreach { case (plen, anteBegin) =>
        if (mi < ms.length && ms(mi).begin < blockEnd) {
          val m = ms(mi)
          val gap = text.substring(blockStart + plen, m.begin).trim
          phrases.get(gap).foreach { pred =>
            out += RelCandidate(url, anteBegin, m.begin, pred)
          }
        }
      }
      blockStart = blockEnd + 1
    }
    out.toSeq
  }

  /** All candidates of one page: adjacent-mention phrase matches plus
    * title-coreference sentences.
    */
  def allCandidates(url: String, text: String, ms: Seq[graft.Mention],
                    phrases: Map[String, String]): Seq[RelCandidate] =
    candidatesFromMentions(url, text, ms, phrases) ++
      corefCandidates(url, text, ms, phrases)

  /** Fully-fused direct extraction: one narrow pass per page does mention
    * scan, map-side linking (pre-reduced broadcast winners — see
    * [[graft.link.Mentions.aliasWinners]]), and local candidate resolution.
    * Zero shuffles from the page scan to raw triples; the first shuffle in
    * the pipeline is the post-canonicalization dedup. This is the 100 TB
    * hot path and the only one: the batch build, the KG queries and the
    * stream all run it.
    */
  def extractDirect(pages: Dataset[Page], aliases: Seq[graft.Alias],
                    phrases: Map[String, String],
                    canon: Map[String, String] = Map.empty): Dataset[Triple] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val trieB = spark.sparkContext.broadcast(
      AliasTrie.build(aliases.map(_.alias).distinct))
    // Winner selection ties break on ORIGINAL entity ids; canonicalization
    // is applied after, by remapping the winner values — emitted triples
    // are then canonical with no separate rewrite stage.
    val winners0 = Mentions.aliasWinners(aliases)
    val winners =
      if (canon.isEmpty) winners0
      else winners0.map { case (a, (e, s)) => a -> (canon.getOrElse(e, e), s) }
    val winnersB = spark.sparkContext.broadcast(winners)
    val phrasesB = spark.sparkContext.broadcast(phrases)
    // Project to (url, text) BEFORE the opaque flatMap (guide: an explicit
    // select ahead of a typed operation is the only column pruning Spark
    // can apply through it): the closure reads only these two fields, and
    // without the select every row deserializes the full Page — including
    // the multi-KB html payload — just to throw it away. On the 400k-page
    // bench this is the dominant stage's input width cut ~3×.
    pages.select(col("url"), col("text")).as[(String, String)]
      .flatMap { case (url, text) =>
        val ms = Mentions.scanText(url, text, trieB.value)
        val linked = Mentions.linkLocal(ms, winnersB.value)
        val byBegin = linked.map(l => l.begin -> l).toMap
        allCandidates(url, text, ms, phrasesB.value).flatMap { c =>
          for (a <- byBegin.get(c.beginA); b <- byBegin.get(c.beginB))
            yield Triple(a.entity, c.pred, b.entity, url,
              math.min(a.conf, b.conf))
        }
      }
  }

  /** Canonicalize subj/obj through a (id → component) mapping.
    *
    * `assumeSmall = true` (default) pins a broadcast join — right whenever
    * the map is dictionary-derived. Pass `false` for a component map from
    * DISCOVERED entities that may be driver/broadcast-hostile: the joins
    * then plan as shuffle joins (AQE still converts back to broadcast at
    * runtime if the map turns out small).
    *
    * `dedup = false` skips the final duplicate elimination for callers that
    * dedup downstream anyway (the bucketed writer's in-shuffle dedup) —
    * avoids paying the same shuffle twice.
    */
  def canonicalize(ts: Dataset[Triple], canon: DataFrame,
                   assumeSmall: Boolean = true,
                   dedup: Boolean = true): Dataset[Triple] = {
    val spark = ts.sparkSession
    import spark.implicits._
    val m0 = canon.select($"id", $"component")
    def side(df: DataFrame): DataFrame = if (assumeSmall) broadcast(df) else df
    val joined = ts
      .join(side(m0.toDF("subj", "subj_c")), Seq("subj"), "left")
      .join(side(m0.toDF("obj", "obj_c")), Seq("obj"), "left")
      .select(
        coalesce($"subj_c", $"subj").as("subj"),
        $"pred",
        coalesce($"obj_c", $"obj").as("obj"),
        $"url", $"conf")
    (if (dedup) joined.dropDuplicates("subj", "pred", "obj", "url") else joined)
      .as[Triple]
  }
}
