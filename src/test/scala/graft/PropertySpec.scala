package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.extract.HtmlText
import graft.link.{AliasTrie, Mentions}
import graft.ops.{Signatures, TextAnalysis}
import graft.synth.{PageSynth, Rng}

/** ScalaCheck properties over the pure kernels (SURVEY.md §5): extraction
  * determinism, scan/trie laws, signature stability, PRNG laws.
  */
class PropertySpec extends AnyFunSuite {

  private def check(name: String, prop: Prop, n: Int = 60): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, s"$name: $res")
  }

  test("extraction is deterministic and idempotent on arbitrary bytes") {
    val bytesGen = Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte))
      .map(_.toArray)
    check("determinism", Prop.forAll(bytesGen) { b =>
      val a = HtmlText.extract(b)
      val c = HtmlText.extract(b)
      a == c
    })
    // extract over already-extracted text (no '<' or '&' left) is stable
    // modulo re-collapse: the text re-scans as ONE block, so each '\n' that
    // joined two blocks collapses to a space (spec rule 4) and nothing else
    // changes.
    def reExtracts(b: Array[Byte]): Boolean = {
      val once = HtmlText.extract(b)
      !(!once.contains('<') && !once.contains('&')) ||
        HtmlText.extract(once.getBytes("UTF-8")) == once.replace('\n', ' ')
    }
    // A recorded input whose extraction joins blocks with '\n'.
    val joined = "42fc55e9b24aa2fc3c701b05977f74a43e711085e6111d3101921787"
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    assert(HtmlText.extract(joined).contains('\n'))
    assert(reExtracts(joined))
    check("idempotence", Prop.forAll(bytesGen)(reExtracts))
  }

  test("synthesized page extraction is byte-identical over random (seed, i, size)") {
    val gen = for {
      seed <- Gen.chooseNum(0L, 1000000L)
      i <- Gen.chooseNum(0L, 5000L)
      sm <- Gen.chooseNum(1, 40)
      sp <- Gen.chooseNum(1, 20)
    } yield (seed, i, sm, sp)
    check("synth-extract", Prop.forAll(gen) { case (seed, i, sm, sp) =>
      val p = PageSynth.page(seed, i, sm, sp)
      HtmlText.extract(p.html) == p.text
    }, n = 120)
  }

  test("mention scan offsets always index their surface form") {
    val trie = AliasTrie.build(PageSynth.aliasDictionary.map(_.alias).distinct)
    val gen = for {
      seed <- Gen.chooseNum(0L, 99999L)
      i <- Gen.chooseNum(0L, 2000L)
    } yield (seed, i)
    check("offsets", Prop.forAll(gen) { case (seed, i) =>
      val p = PageSynth.page(seed, i)
      Mentions.scanText(p.url, p.text, trie).forall(m =>
        p.text.substring(m.begin, m.end) == m.mention &&
          m.begin >= 0 && m.end <= p.text.length && m.begin < m.end)
    })
  }

  test("minhash estimate is within tolerance of true jaccard") {
    val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val docGen = Gen.listOfN(40, word).map(_.mkString(" "))
    check("minhash-estimate", Prop.forAll(docGen, docGen) { (a, b) =>
      val sa = Signatures.shingles(a, 3)
      val sb = Signatures.shingles(b, 3)
      val inter = sa.toSet.intersect(sb.toSet).size.toDouble
      val union = sa.toSet.union(sb.toSet).size.toDouble
      val trueJ = if (union == 0) 0.0 else inter / union
      val ma = Signatures.minhash(sa, 256)
      val mb = Signatures.minhash(sb, 256)
      val est = ma.zip(mb).count { case (x, y) => x == y }.toDouble / 256
      math.abs(est - trueJ) < 0.2
    }, n = 40)
  }

  test("winnow sketches are deterministic; rng is counter-pure") {
    val strGen = Gen.asciiPrintableStr
    check("winnow-det", Prop.forAll(strGen) { s =>
      TextAnalysis.winnow(s).toSeq == TextAnalysis.winnow(s).toSeq
    })
    val triple = for {
      s <- Gen.chooseNum(Long.MinValue + 1, Long.MaxValue - 1)
      i <- Gen.chooseNum(0L, Long.MaxValue / 2)
      j <- Gen.chooseNum(0L, Long.MaxValue / 2)
    } yield (s, i, j)
    check("rng-pure", Prop.forAll(triple) { case (s, i, j) =>
      Rng.at(s, i, j) == Rng.at(s, i, j) &&
        Rng.nextDouble(s, i, j) >= 0.0 && Rng.nextDouble(s, i, j) < 1.0
    })
  }

  test("simhash of permuted word multiset is identical (bag semantics)") {
    val word = Gen.oneOf("x", "yy", "zzz", "w", "vv")
    val docGen = Gen.listOfN(20, word)
    check("simhash-bag", Prop.forAll(docGen) { words =>
      Signatures.simhash(words.mkString(" ")) ==
        Signatures.simhash(scala.util.Random.shuffle(words).mkString(" "))
    })
  }
}
