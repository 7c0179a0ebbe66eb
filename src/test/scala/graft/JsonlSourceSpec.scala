package graft

import java.nio.file.{Files, Paths}

import graft.sources.JsonlPages
import graft.synth.PageSynth

/** JSONL source: round-trip fidelity + validation semantics (the
  * reference's F1 row asserts as a quarantine side-channel).
  */
class JsonlSourceSpec extends SparkSpec {

  test("pages round-trip through JSONL byte-identically") {
    import spark.implicits._
    val dir = specDir("graft-jsonl").toString
    val pages = PageSynth.pages(spark, 31L, 80L, 4)
    JsonlPages.write(pages, s"$dir/pages")
    val (back, rejected) = JsonlPages.read(spark, s"$dir/pages")
    assert(rejected.count() == 0)
    val orig = pages.collect().map(p => p.url -> p).toMap
    val got = back.collect()
    assert(got.length == orig.size)
    got.foreach { p =>
      val o = orig(p.url)
      assert(p.html.sameElements(o.html), s"html bytes differ for ${p.url}")
      assert(p.text == o.text && p.lang == o.lang)
      assert(p.warc_ts.getTime == o.warc_ts.getTime)
    }
  }

  test("malformed and incomplete lines are quarantined, not fatal") {
    val dir = specDir("graft-jsonl-bad").toString
    val f = Paths.get(dir, "mixed.jsonl")
    Files.writeString(f,
      """{"url":"u1","warc_ts":"2024-01-01T00:00:00.000Z","html_b64":"PGI+aGk8L2I+","text":"hi","lang":"en"}
        |this is not json at all
        |{"url":null,"html_b64":"eA=="}
        |{"url":"u2","html_b64":null,"lang":"en"}
        |{"url":"u3","warc_ts":"2024-01-02T00:00:00.000Z","html_b64":"PGI+eW88L2I+","text":"yo","lang":"en"}
        |""".stripMargin)
    val (valid, rejected) = JsonlPages.read(spark, f.toString)
    val v = valid.collect().map(_.url).toSet
    assert(v == Set("u1", "u3"))
    assert(rejected.count() == 3)
    // extraction works on the decoded bytes:
    val p1 = valid.collect().find(_.url == "u1").get
    assert(graft.extract.HtmlText.extract(p1.html) == "hi")
  }
}
