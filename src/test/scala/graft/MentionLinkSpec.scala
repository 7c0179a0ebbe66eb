package graft

import graft.link.{AliasTrie, Mentions}
import graft.JoinOracle.link
import graft.synth.PageSynth

/** Mention scan + entity linking: exact-value assertions against the
  * synthesizer's golden mentions (reference test philosophy:
  * /root/reference/tests/graph_loader.rs:305-320 asserts every value).
  */
class MentionLinkSpec extends SparkSpec {

  private val trie = AliasTrie.build(
    PageSynth.aliasDictionary.map(_.alias).distinct)

  test("longest match wins; matches cannot span blocks or sentences") {
    val t1 = "Zorval Dynamics Corp acquired Nexor Systems ."
    val ms = Mentions.scanText("u", t1, trie)
    assert(ms.map(_.mention) == Seq("Zorval Dynamics Corp", "Nexor Systems"))

    // Newline (block boundary) blocks extension: "Dynamics\nCorp" is two
    // blocks — only the bare-noun alias "Dynamics" may match.
    val t2 = "Zorval Dynamics\nNexor Systems"
    val ms2 = Mentions.scanText("u", t2, trie)
    assert(ms2.map(_.mention) == Seq("Zorval Dynamics", "Nexor Systems"))

    // Double space is not a single-space gap — no multi-token match.
    val t3 = "Zorval  Dynamics"
    val ms3 = Mentions.scanText("u", t3, trie)
    assert(ms3.map(_.mention) == Seq("Dynamics"))
  }

  test("scan finds exactly the golden mention spans (500 pages)") {
    (0L until 500L).foreach { i =>
      val p = PageSynth.page(42L, i)
      val got = Mentions.scanText(p.url, p.text, trie)
        .map(m => (m.begin, m.end, m.mention)).toSet
      val exp = p.goldenMentions.map(m => (m.begin, m.end, m.mention)).toSet
      assert(got == exp, s"page $i mention span mismatch")
    }
  }

  test("distributed scan + broadcast link reproduce golden entities") {
    import spark.implicits._
    val n = 300L
    val pages = PageSynth.pages(spark, 42L, n, 8)
    val mentions = Mentions.scan(pages, PageSynth.aliasDictionary)
    val linked = link(mentions, PageSynth.aliases(spark))
    val got = linked
      .map(m => (m.url, m.begin, m.end, m.entity, m.conf))
      .collect().toSet
    val exp = PageSynth.goldenMentions(spark, 42L, n, 8)
      .map(m => (m.url, m.begin, m.end, m.entity, m.conf))
      .collect().toSet
    assert(got == exp)
  }

  test("scan is invariant under partition count") {
    import spark.implicits._
    def run(parts: Int): Set[(String, Int, Int, String)] =
      Mentions.scan(PageSynth.pages(spark, 42L, 200L, parts),
          PageSynth.aliasDictionary)
        .map(m => (m.url, m.begin, m.end, m.mention)).collect().toSet
    assert(run(1) == run(8))
  }
}
