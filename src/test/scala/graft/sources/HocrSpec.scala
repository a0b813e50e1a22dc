package graft.sources

import org.scalatest.funsuite.AnyFunSuite

class HocrSpec extends AnyFunSuite {

  val page: String =
    """<html><body><div class='ocr_page' title='bbox 0 0 2400 3800'>
      |<span class='ocr_line' title='bbox 100 200 800 230'>Smith John, carpenter</span>
      |<span class='ocr_line' title='bbox 1300 200 2000 230'>Jones Mary, milliner</span>
      |<span class='ocr_line' title='bbox 102 320 760 350'>Brown Wm, grocer</span>
      |<span class='ocr_line' title='bbox 340 360 900 390'>indented continuation</span>
      |<span class='ocr_line' title='bbox 1302 320 1900 350'>Davis Geo, smith</span>
      |</div></body></html>""".stripMargin

  test("parseLines extracts bbox and text") {
    val lines = Hocr.parseLines(page)
    assert(lines.size == 5)
    assert(lines.head.bbox.sameElements(Array(100, 200, 800, 230)))
    assert(lines.head.text == "Smith John, carpenter")
  }

  test("parseLines strips inner word spans and normalizes whitespace") {
    val withWords =
      """<span class='ocr_line' title='bbox 1 2 3 4'>
        |  <span class='ocrx_word' title='bbox 1 2 2 4'>Smith</span>
        |  <span class='ocrx_word' title='bbox 2 2 3 4'>John</span>
        |</span>""".stripMargin
    val lines = Hocr.parseLines(withWords)
    assert(lines.size == 1)
    assert(lines.head.text == "Smith John")
  }

  test("parseLines drops a line whose bbox does not fit an Int, keeps the rest") {
    assert(Hocr.parseLines(
      "<span class='ocr_line' title='bbox 1 2 3 99999999999'>x</span>").isEmpty)
    val lines = Hocr.parseLines(
      "<span class='ocr_line' title='bbox 2147483648 2 3 4'>x</span>" +
      "<span class='ocr_line' title='bbox 1 2 3 2147483647'>y</span>")
    assert(lines.map(_.text) == Seq("y"))
    assert(lines.head.bbox.sameElements(Array(1, 2, 3, Int.MaxValue)))
  }

  test("detectColumns: two columns, indented line unassigned") {
    val detected = Hocr.detectPage(page, 2)
    assert(detected.isDefined)
    val lines = detected.get
    assert(lines.map(_.columnIndex) ==
      Seq(Some(0), Some(1), Some(0), None, Some(1)))
  }

  test("detectColumns: fails when the expected split does not exist") {
    // all left edges within tolerance of each other — no 2-column split
    val lines = Seq(
      Hocr.RawLine(Array(100, 200, 700, 230), "a"),
      Hocr.RawLine(Array(102, 320, 700, 350), "b"),
      Hocr.RawLine(Array(104, 440, 700, 470), "c"))
    assert(Hocr.detectColumns(lines, 2).isEmpty)
  }

  test("detectColumns: single column assigns all tight lines") {
    val lines = Seq(
      Hocr.RawLine(Array(100, 200, 700, 230), "a"),
      Hocr.RawLine(Array(104, 320, 700, 350), "b"))
    val d = Hocr.detectColumns(lines, 1)
    assert(d.isDefined)
    assert(d.get.forall(_.columnIndex.contains(0)))
  }

  test("detectColumns: empty page fails detection") {
    assert(Hocr.detectColumns(Nil, 2).isEmpty)
  }

  test("entry name parse") {
    assert(HocrArchive.parseEntryName(
      "dir/25.56886389.c6725860-7ce9.processed.hocr")
      .contains((25, "56886389", "c6725860-7ce9")))
    assert(HocrArchive.parseEntryName("dir/notes.txt").isEmpty)
    assert(HocrArchive.parseEntryName("bad.hocr").isEmpty)
  }
}
