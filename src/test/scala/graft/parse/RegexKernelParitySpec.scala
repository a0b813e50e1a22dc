package graft.parse

import graft.fixtures.CityDirFixture
import graft.geocode.Geocoder
import graft.sources.Hocr
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The hand-written text kernels against their regex forms
  * ([[RegexOracles]]): identical output on the fixture pages and on
  * seeded inputs built from the fragments where a scanner could drift
  * from the regex — attribute order and quoting, look-alike tags,
  * entities, stray angle brackets, every `\s` character, control
  * characters at the ends, non-ASCII letters, digits and marks.
  */
class RegexKernelParitySpec extends AnyFunSuite {

  private def lines(ls: Seq[Hocr.RawLine]): Seq[(Seq[Int], String)] =
    ls.map(l => (l.bbox.toSeq, l.text))

  private def assertSameLines(page: String): Unit =
    assert(lines(Hocr.parseLines(page)) ==
      lines(RegexOracles.parseLines(page)), page)

  private def pick[A](rnd: Random, xs: IndexedSeq[A]): A =
    xs(rnd.nextInt(xs.size))

  // line start tags, real and look-alike; no coordinate overflows an Int,
  // which the regex form answers with an exception (HocrSpec covers it)
  private val startTags = Vector(
    "<span class='ocr_line' title='bbox 100 200 800 230'>",
    "<span class=\"ocr_line\" title=\"bbox 1 2 3 4; x_wconf 95\">",
    "<span title='bbox 5 6 7 8' class='ocr_line'>",
    "<span id='l1' title=\"baseline 0 0; bbox 9 10 11 12\" class=\"ocr_line\">",
    "<div class='ocr_line' title='bbox 0 0 10 10'>",
    "<p class='ocr_line' title='bbox 007 08 0009 2147483647'>",
    "<span class='ocrx_block ocr_line first' title='bbox 3 3 3 3'>",
    "<span class='ocr_linex' title='bbox 4 4 4 4'>",
    "<span data-x=\"class='ocr_line'\" title='bbox 12 13 14 15'>",
    "<span class='ocr_line' data-t=\"title='bbox 1 1 1 1'\" title='bbox 2 2 2 2'>",
    "<span class='ocr_line'>",
    "<span class='ocr_line' title='baseline 1 2'>",
    "<span class='ocr_line' title='bbox 1 2 3'>",
    "<span class='ocr_line' title='x bbox 1 2 3 bbox 4 5 6 7'>",
    "<span class='ocr_line' title=bbox>",
    "<span class='ocr_line' title='bbox 1 2 3 4",
    "<span class=ocr_line title='bbox 1 2 3 4'>",
    "<span class='ocr_line' class='ocrx_word' title='bbox 6 6 6 6'>",
    "<span class='ocr>line' title='bbox 1 1 2 2'>",
    "<span class='ocr_line>' title='bbox 1 1 2 2'>",
    "<span\nclass='ocr_line'\ttitle='bbox 21 22 23 24'>",
    "<span-x class='ocr_line' title='bbox 1 2 3 4'>",
    "<spanx class='ocr_line' title='bbox 1 2 3 4'>",
    "<span\u00e9 class='ocr_line' title='bbox 1 2 3 4'>",
    "<span\u0301 class='ocr_line' title='bbox 1 2 3 4'>",
    "<pre class='ocr_line' title='bbox 1 2 3 4'>",
    "<SPAN class='ocr_line' title='bbox 1 2 3 4'>",
    "<span class='ocrx_word' title='bbox 1 2 2 4'>")

  private val content = Vector(
    "Smith", "John,", "carpenter", "123 Broadway", "h 19 Pearl st.",
    "M\u00fcller", "\u6771\u4eac", "\uD83D\uDE00", "\u0660\u0661",
    "<span class='ocrx_word' title='bbox 1 2 2 4'>Jones</span>",
    "</span>", "<br/>", "</div>", "<!-- note -->",
    "&amp;", "&lt;", "&gt;", "&quot;", "&#39;", "&amp;lt;", "&amp;amp;",
    "&nbsp;", "&", "&lt", "&#39", "<>", "<", ">", "<<b>", "< >",
    " ", "  ", "\t", "\n", "\r\n", "\f", "\u000B", "\u0001", "\u0000",
    "\u00A0", "\u2028", "\u0085", "\u001F")

  private def generatedPage(rnd: Random): String = {
    val sb = new StringBuilder
    if (rnd.nextBoolean()) sb.append("<html><body><div class='ocr_page'>\n")
    (0 until 1 + rnd.nextInt(6)).foreach { _ =>
      sb.append(pick(rnd, startTags))
      (0 until rnd.nextInt(7)).foreach(_ => sb.append(pick(rnd, content)))
      if (rnd.nextBoolean()) sb.append("</span>")
    }
    // text after the last line belongs to it
    (0 until rnd.nextInt(3)).foreach(_ => sb.append(pick(rnd, content)))
    sb.toString
  }

  test("parseLines matches the regex form on the fixture pages") {
    val pages = CityDirFixture.volumes.flatMap(_.pages)
      .distinct.map(CityDirFixture.hocrPage(_))
    pages.foreach(assertSameLines)
    assert(pages.forall(p => Hocr.parseLines(p).size == 7))
  }

  test("parseLines matches the regex form on generated pages") {
    val rnd = new Random(7)
    (0 until 1500).foreach(_ => assertSameLines(generatedPage(rnd)))
    Seq("", "<", "<span", "<span class='ocr_line' title='bbox 1 2 3 4'>",
      "<span class='ocr_line' title='bbox 1 2 3 4'>a<",
      "<span class='ocr_line' title='bbox 1 2 3 4'>a<b",
      "<span class='ocr_line' title='bbox 1 2 3 4'>\u0001 a \u0002",
      "<span class='ocr_line' title='bbox 1 2 3 4'>&amp",
      "x <span class='ocr_line' title='bbox 1 2 3 4'> <b> </b> </span>"
    ).foreach(assertSameLines)
  }

  // where `nextLineTag`'s word-span skip could drift from the full scan: a
  // `>` inside a quoted class value, `class=` inside other attribute
  // values, `ocr_line` in a title or in the text, and quotes in the text
  // between a word span's first `>` and the next `ocr_line`
  private val trickyTags = Vector(
    "<span class='x>y ocr_line' title='bbox 1 2 3 4'>",
    "<span title='bbox 1 2 3 4' class='>ocr_line'>",
    "<span class=\"a > ocr_line\" title=\"bbox 5 6 7 8\">",
    "<span class='ocrx_word>' title='bbox 1 2 3 4'>",
    "<span title=\"class='ocr_line' bbox 1 2 3 4\">",
    "<span id='class=' class='ocrx_word' title='bbox 1 2 3 4'>",
    "<span data-c='class=\"ocr_line\"' class='ocr_line' title='bbox 3 4 5 6'>",
    "<span data-c='class=\"ocr_line\"' class='ocrx_word' title='bbox 3 4 5 6'>",
    "<span class='ocrx_word' title='ocr_line bbox 1 2 3 4'>",
    "<span class='ocrx_word' title='bbox 1 2 3 4; x ocr_line'>",
    "<span class='ocrx_word' title='bbox 1 2 3 4'>ocr_line</span>",
    "<span class='ocrx_word ocr_lin' title='bbox 1 2 3 4'>",
    "<span class='ocr_line' title='bbox 9 9 9 9'>",
    "<span class=ocr_line title='bbox 1 2 3 4'>",
    "<span class='ocrx_word' title='bbox 1 2 3 4'>")

  private val trickyContent = Vector(
    "ocr_line", "'ocr_line'", "\"ocr_line\"", "class='ocr_line'", "'", "\"",
    "x'y", "ocr_line'", "'ocr_lin", "e", ">", "> ocr_line'", "class=",
    "<span class='ocrx_word' title='bbox 1 2 2 4'>Jones</span>", "</span>",
    "Smith", " ")

  test("parseLines matches the regex form where the word-span skip could drift") {
    val rnd = new Random(17)
    (0 until 3000).foreach { _ =>
      val sb = new StringBuilder
      (0 until 1 + rnd.nextInt(6)).foreach { _ =>
        sb.append(pick(rnd, trickyTags))
        (0 until rnd.nextInt(5)).foreach(_ => sb.append(pick(rnd, trickyContent)))
      }
      assertSameLines(sb.toString)
    }
    Seq(
      // the first `>` sits inside the qualifying class value
      "<span class='a>b ocr_line' title='bbox 1 2 3 4'>Smith",
      // `ocr_line` only after a quote that follows the first `>`
      "<span class='ocrx_word'>x'ocr_line' title='bbox 1 2 3 4'>Smith",
      // the value closes after the first `>`, at the first quote past it
      "<span class='w>ocr_line' title='bbox 1 2 3 4'>a<span class='x'>b",
      // `ocr_line` in the text, no quote after it
      "<span class='ocrx_word' title='bbox 1 2 3 4'>ocr_line",
      "<span class='ocrx_word' title='bbox 1 2 3 4'>ocr_lin",
      "<span title='bbox 1 2 3 4' class='ocr_line",
      // a line tag straight after a word span, and after an `ocr_line` in
      // a word's text with a quote before it
      "<span class='ocrx_word'>a</span><span class='ocr_line' title='bbox 1 2 3 4'>b",
      "<span class='w'>it's ocr_line</span><span class='ocr_line' title='bbox 1 2 3 4'>b",
      // a quote of the other kind closes the value before `ocr_line`
      "<span class=\"a>'b ocr_line\" title='bbox 1 2 3 4'>Smith",
      "<span class='a>\"b ocr_line' title='bbox 1 2 3 4'>Smith"
    ).foreach(assertSameLines)
  }

  // around abbreviations: Unicode letters and digits, `_`, combining
  // marks (also after a supplementary letter), dotted capital I (which
  // lowercases to i + a mark), letter-like numbers that are no letters
  private val addressTokens = Vector(
    "st", "St.", "av", "ave", "AVE", "bway", "pl", "rd", "la", "ct", "sq",
    "w", "e", "n", "s", "W.", "h", "r", "H", "R", "123", "14th", "Pearl",
    "broadway", "lane", "\u00e9", "\u00e9 st", "st_", "_st", "9st", "st9",
    "s\u0301t", "st\u0301", "\u0301st", "\u0301", "x\u0301", "_\u0301",
    "\uD835\uDC00", "\uD835\uDC00\u0301", "\uD834\uDD67",
    "\u0130", "\u0130st", "\u216B", "\u00B2", "st\u00B2", "\u0663st",
    "\u00DF", "\u01C5", " ", "  ", "\t", "\n", "\u000B", "\f", "\r",
    "\u00A0", ".", ",", ";", ":", "'", "-", "/", "&")

  test("normalizeAddress matches the regex form") {
    val fixed = Seq("", " ", "h", "h ", "h  19 pearl st", "r. 7 bowery",
      "h\t19 st", ". st", "st .", "\u00e9 st", "st_", "9st", "s\u0301t",
      "\u0130 st", "\uD835\uDC00\u0301st", "w.e.n.s", "st-st/st")
    val rnd = new Random(11)
    val generated = Seq.fill(3000) {
      val sep = if (rnd.nextBoolean()) " " else ""
      Seq.fill(1 + rnd.nextInt(6))(pick(rnd, addressTokens)).mkString(sep)
    }
    (fixed ++ generated ++ CityDirFixture.dimension.map(_.addressName) ++
      CityDirFixture.people.flatMap(_._3)).foreach { a =>
      assert(Geocoder.normalizeAddress(a) == RegexOracles.normalizeAddress(a),
        a)
    }
  }

  private val segmentTokens = Vector(
    "12", "1", "0", "\u0663", "\uFF11", "a", "b", "x", "\u00C9", "H", "R",
    "h", "r", "h.", "r.", "st", "lane", "bway", "broadway", "bowery", "dr",
    "mkt", " ", "  ", "\t", "\n", "\r", "\u000B", "\f", "\u0085",
    "\u00A0", "\u2028", ".", "..", ",", "\u0001")

  test("isAddress matches the regex form") {
    val fixed = Seq("12 a\nb", "12\nb", "12,\nb", "12 a\u0085b", "12",
      "12,", "\u0663 broadway", "12 broadway", "maiden lane.",
      "lane.", "lane..", ". lane", "h. 45 broadway", "r.\t7", "h 4\n",
      "h. x", "r 7 bowery", "h.", "h 45", "dr.", "bowery.", "\u0001lane")
    val rnd = new Random(13)
    val generated = Seq.fill(3000) {
      val sep = if (rnd.nextBoolean()) " " else ""
      Seq.fill(1 + rnd.nextInt(5))(pick(rnd, segmentTokens)).mkString(sep)
    }
    val whitelists = Seq(EntryParser.defaultStandaloneStreets,
      Set("lane", "dr"), Set.empty[String])
    for (seg <- fixed ++ generated; standalone <- whitelists)
      assert(EntryParser.isAddress(seg, standalone) ==
        RegexOracles.isAddress(seg, standalone), (seg, standalone))
  }
}
