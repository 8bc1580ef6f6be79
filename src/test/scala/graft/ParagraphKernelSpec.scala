package graft

import graft.model.{Doc, Span}
import graft.sources.Wire

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The production paragraph kernel ([[Wire.paragraphsArrayData]]) against
  * its reference (segregateDoc + the regex P7/P8 filter) on generated span
  * sequences: every span kind, starter numerals in ASCII, spaced, nested and
  * Arabic-Indic form, null text, non-ASCII and supplementary-plane text, and
  * offsets that are shuffled or tied as often as sorted — the unsorted ones
  * take the kernel's object-fold fallback. */
class ParagraphKernelSpec extends AnyFunSuite {

  private val starters = Gen.oneOf("1.", "2.", "1.2.", " 3 .", "١٢.", "𝟙.", "4 .5.", "9")
  private val words = Gen.oneOf(
    "the", "of", "court", "order", "petition", "ünïcode", "wörds", "𐄇", "café",
    "extraordinarilylongtoken", "A.", "ok!", "why?", "1.5", ".", "  ", "\t", "x")

  private val sentence: Gen[String] =
    Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, words)).map(_.mkString(" "))

  private val text: Gen[String] = Gen.frequency(
    3 -> Gen.zip(starters, sentence).map { case (s, t) => s"$s $t" },
    4 -> sentence,
    1 -> Gen.const(null))

  private val span: Gen[(String, String, String)] = Gen.frequency(
    6 -> text.map(t => ("text", t, null)),
    1 -> Gen.oneOf("HEADING", "Ⅻ SECTION", "𝟙 part").map(h => ("heading", h, null)),
    1 -> Gen.const(("table", null, null)),
    1 -> Gen.const(("image", null, "media/0.png")))

  /** Offsets: sorted, shuffled, or drawn with ties. */
  private def offsets(n: Int): Gen[Seq[Int]] = Gen.oneOf(
    Gen.const(0 until n),
    Gen.listOfN(n, Gen.choose(0, Int.MaxValue)).map(keys => (0 until n).sortBy(keys)),
    Gen.listOfN(n, Gen.choose(0, n)))

  private val doc: Gen[Doc] = for {
    n <- Gen.choose(0, 14)
    fields <- Gen.listOfN(n, span)
    offs <- offsets(n)
    id <- Gen.oneOf("d/1", null)
  } yield Doc(id, fields.zip(offs).map { case ((k, t, m), o) => Span(k, t, m, o) })

  private def kernelRows(d: Doc, minSents: Int, minWords: Int) = {
    val arr = Wire.paragraphsArrayData(Wire.encode(Nil, Some(d)), minSents, minWords)
    (0 until arr.numElements()).map { k =>
      val r = arr.getStruct(k, 4)
      (r.getInt(0), r.getInt(1), r.getUTF8String(2).toString,
        if (r.isNullAt(3)) null else r.getUTF8String(3).toString)
    }
  }

  private def referenceRows(d: Doc, minSents: Int, minWords: Int) =
    ParagraphReference.paragraphs(d, minSents, minWords)
      .map(p => (p.page, p.paragraph_number, p.content, p.reference))

  test("property: paragraphsArrayData ≡ segregateDoc + regex filter at (3,30) and (0,0)") {
    var unsortedWithParagraphs = 0
    val prop = Prop.forAll(doc) { d =>
      val offs = d.spans.map(_.offset)
      if (offs != offs.sorted && referenceRows(d, 0, 0).nonEmpty) unsortedWithParagraphs += 1
      Prop.all(Seq((3, 30), (0, 0)).map { case (s, w) =>
        val got = kernelRows(d, s, w)
        val want = referenceRows(d, s, w)
        Prop(got == want) :| s"($s,$w): got $got, want $want"
      }: _*)
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(1500).withInitialSeed(Seed(20261018L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res, org.scalacheck.util.Pretty.Params(2)))
    // the generator must reach the unsorted-offset fallback with real output
    assert(unsortedWithParagraphs > 50, s"only $unsortedWithParagraphs unsorted docs with paragraphs")
  }
}
