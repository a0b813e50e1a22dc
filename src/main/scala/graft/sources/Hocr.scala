package graft.sources

import graft.model.OcrLine
import graft.parse.RegexChars

/** hOCR (XHTML OCR output) page parsing + column detection.
  *
  * Replaces the reference's `hocr-detect-columns` dependency
  * (city-directories.js:11,224-226; pin package-lock.json:1114) with a
  * self-contained, deterministic implementation. The capability contract
  * (SURVEY.md O-29/O-30): given a page's hOCR and an expected
  * `columnCount`, yield the page's OCR lines, each with `bbox`,
  * `completeText`, and a `columnIndex` that is None for lines that don't
  * start at a detected column edge (indented continuations) — those are
  * filtered out downstream (city-directories.js:236); pages where
  * detection fails yield None (filtered at city-directories.js:233).
  *
  * Parsing is one hand-written left-to-right scan per page rather than a
  * DOM parse or a set of regexes: hOCR in the wild is only nominally
  * XHTML, and this code runs inside a `flatMap` on executors for every
  * page of a 100 TB corpus, so no DOM trees and no regex engine. The scan
  * keeps the output the regex form defined, rule for rule (that form
  * stays in the tests as `graft.parse.RegexOracles`) — see [[parseLines]].
  */
object Hocr {

  /** Raw parsed line before column assignment. */
  final case class RawLine(bbox: Array[Int], text: String)

  /** The page's OCR lines, in document order. The rules:
    *  - a line starts at a start tag of a `span`, `div` or `p` element
    *    (the name ends at a regex word boundary) whose `class=` value,
    *    quoted with `'` or `"`, contains `ocr_line`; attribute order and
    *    quote style vary, and when a tag has several `class=` attributes
    *    the last one before the tag's first `>` that qualifies counts.
    *    The tag ends at the first `>` after that value. Start tags are
    *    found left to right without overlapping;
    *  - a line's content runs to the next line start tag, or to the end
    *    of the page: hOCR lines are laid out sequentially, so nested
    *    `ocrx_word` spans need no balanced-tag parsing;
    *  - the bbox is read from the tag's first quoted `title=` value, at
    *    its first `bbox` followed by four space-separated ASCII numbers;
    *    a coordinate that does not fit an `Int` leaves the line without
    *    a bbox;
    *  - in the text, each `<…>` (at least one character, no `>` inside)
    *    becomes a space, the five entities `&lt;` `&gt;` `&quot;` `&#39;`
    *    `&amp;` are decoded in one pass (so `&amp;lt;` stays `&lt;`),
    *    each run of ASCII whitespace becomes one space, and the result is
    *    trimmed as `String.trim` does (the reference's `completeText`);
    *  - a line with no bbox or with empty text is dropped.
    */
  def parseLines(hocr: String): Seq[RawLine] = {
    val lines = Vector.newBuilder[RawLine]
    val text = new java.lang.StringBuilder
    var tag = nextLineTag(hocr, 0)
    while (tag >= 0) {
      val start = (tag >>> 32).toInt
      val end = tag.toInt
      val next = nextLineTag(hocr, end)
      val contentEnd = if (next >= 0) (next >>> 32).toInt else hocr.length
      val bbox = titleBbox(hocr, start, end)
      if (bbox != null) {
        lineText(hocr, end, contentEnd, text)
        if (text.length > 0) lines += RawLine(bbox, text.toString)
      }
      tag = next
    }
    lines.result()
  }

  /** The next line start tag at or after `from`, packed as
    * `start << 32 | end` (end exclusive), or -1.
    *
    * Word spans are skipped without a look at their attributes. A line
    * tag's qualifying class value holds an `ocr_line` that starts after
    * the tag's name; take the first such `ocr_line` (at `o`). The value
    * opens before the tag's first `>` and holds no quote, so it closes
    * before that `>` or at the first quote after it, and in both cases
    * no quote lies between the tag's first `>` and `o + 8`. Let `q` be
    * the last quote before `o + 8` and `g` the last `>` at or before
    * `q`: a tag that opens before `g` has its first `>` at or before
    * `g`, so `q` lies between that `>` and `o + 8`, and it is no line
    * tag. The scan goes on from `g`.
    */
  private def nextLineTag(s: String, from: Int): Long = {
    var p = s.indexOf('<', from)
    var ocrLine = -1 // the first `ocr_line` at or after p's name
    while (p >= 0) {
      val nameEnd = lineTagNameEnd(s, p)
      if (nameEnd >= 0 && ocrLine < nameEnd) {
        ocrLine = s.indexOf("ocr_line", nameEnd)
        if (ocrLine < 0) return -1L
        // q and g, searched back no further than p: linear in the page
        var gt = math.min(ocrLine + 7, s.length - 1)
        while (gt > p && !isQuote(s.charAt(gt))) gt -= 1
        while (gt > p && s.charAt(gt) != '>') gt -= 1
        if (gt > p) p = s.indexOf('<', gt)
      } else if (nameEnd >= 0) {
        val end = lineTagEnd(s, nameEnd)
        if (end >= 0) return (p.toLong << 32) | end
        p = s.indexOf('<', p + 1)
      } else p = s.indexOf('<', p + 1)
    }
    -1L
  }

  /** End of the element name of a `span`, `div` or `p` start tag opening
    * at `p`, or -1 if no such tag opens there. */
  private def lineTagNameEnd(s: String, p: Int): Int = {
    val nameLen =
      if (s.startsWith("span", p + 1)) 4
      else if (s.startsWith("div", p + 1)) 3
      else if (s.startsWith("p", p + 1)) 1
      else return -1
    val nameEnd = p + 1 + nameLen
    if (RegexChars.continuesWord(s, nameEnd)) -1 else nameEnd
  }

  /** End (exclusive) of the line start tag whose name ends at `nameEnd`,
    * or -1. */
  private def lineTagEnd(s: String, nameEnd: Int): Int = {
    val firstGt = s.indexOf('>', nameEnd)
    if (firstGt < 0) return -1
    // from the last `class=` whose opening quote still sits before firstGt
    var x = firstGt - 7
    while (x >= nameEnd) {
      val open = x + 6
      if (s.startsWith("class=", x) && isQuote(s.charAt(open))) {
        val close = indexOfQuote(s, open + 1, s.length)
        if (close >= 0 && indexOf(s, "ocr_line", open + 1, close) >= 0) {
          val gt = s.indexOf('>', close + 1)
          if (gt >= 0) return gt + 1
        }
      }
      x -= 1
    }
    -1
  }

  /** The bbox of the tag `s[start, end)`, or null. */
  private def titleBbox(s: String, start: Int, end: Int): Array[Int] = {
    var t = indexOf(s, "title=", start, end)
    while (t >= 0) {
      val open = t + 6
      if (open < end && isQuote(s.charAt(open))) {
        val close = indexOfQuote(s, open + 1, end)
        if (close >= 0) return bbox(s, open + 1, close)
      }
      t = indexOf(s, "title=", t + 1, end)
    }
    null
  }

  /** The first `bbox d d d d` in `s[from, to)`, or null if there is none
    * or one of its numbers does not fit an `Int`.
    */
  private def bbox(s: String, from: Int, to: Int): Array[Int] = {
    var b = indexOf(s, "bbox ", from, to)
    while (b >= 0) {
      val coords = new Array[Int](4)
      var i = b + 5
      var k = 0
      var overflow = false
      var ok = true
      while (ok && k < 4) {
        var v = 0L
        val digits = i
        while (i < to && RegexChars.isDigit(s.charAt(i))) {
          if (!overflow) {
            v = v * 10 + (s.charAt(i) - '0')
            overflow = v > Int.MaxValue
          }
          i += 1
        }
        ok = i > digits && (k == 3 || (i < to && s.charAt(i) == ' '))
        coords(k) = v.toInt
        i += 1
        k += 1
      }
      if (ok) return if (overflow) null else coords
      b = indexOf(s, "bbox ", b + 1, to)
    }
    null
  }

  /** Sets `out` to the text of the content `s[from, to)`. */
  private def lineText(s: String, from: Int, to: Int,
                       out: java.lang.StringBuilder): Unit = {
    out.setLength(0)
    var gt = Int.MinValue // first '>' at or after the scan, -1 if none
    var i = from
    while (i < to) {
      val c = s.charAt(i)
      if (c == '<') {
        if (gt != -1 && gt <= i) gt = indexOf(s, '>', i + 1, to)
        if (gt > i + 1) { space(out); i = gt + 1 }
        else { out.append(c); i += 1 }
      } else if (c == '&') {
        i = entity(s, i, to, out)
      } else if (RegexChars.isSpace(c)) {
        space(out); i += 1
      } else {
        out.append(c); i += 1
      }
    }
    var a = 0
    var b = out.length
    while (b > 0 && out.charAt(b - 1) <= ' ') b -= 1
    while (a < b && out.charAt(a) <= ' ') a += 1
    out.setLength(b)
    out.delete(0, a)
  }

  private val entities: Array[(String, Char)] = Array(
    "&lt;" -> '<', "&gt;" -> '>', "&quot;" -> '"', "&#39;" -> '\'',
    "&amp;" -> '&')

  /** Appends the entity or the `&` at `i`; returns the index after it. */
  private def entity(s: String, i: Int, to: Int,
                     out: java.lang.StringBuilder): Int = {
    var k = 0
    while (k < entities.length) {
      val (name, ch) = entities(k)
      if (i + name.length <= to && s.startsWith(name, i)) {
        out.append(ch)
        return i + name.length
      }
      k += 1
    }
    out.append('&')
    i + 1
  }

  /** A whitespace run or a tag: at most one space, none leading. */
  private def space(out: java.lang.StringBuilder): Unit =
    if (out.length > 0 && out.charAt(out.length - 1) != ' ') out.append(' ')

  private def isQuote(c: Char): Boolean = c == '\'' || c == '"'

  private def indexOfQuote(s: String, from: Int, to: Int): Int = {
    var i = from
    while (i < to) {
      if (isQuote(s.charAt(i))) return i
      i += 1
    }
    -1
  }

  private def indexOf(s: String, c: Char, from: Int, to: Int): Int = {
    val i = s.indexOf(c, from)
    if (i >= 0 && i < to) i else -1
  }

  /** First index of `needle` wholly inside `s[from, to)`, or -1. */
  private def indexOf(s: String, needle: String, from: Int, to: Int): Int = {
    var i = from
    val last = to - needle.length
    while (i <= last) {
      if (s.startsWith(needle, i)) return i
      i += 1
    }
    -1
  }

  /** Detect `columnCount` columns from the distribution of line left edges
    * and assign each line a column index.
    *
    * Algorithm (ours; the reference delegates to `hocr-detect-columns`):
    * sort lines by x0, split the x0 axis at the (columnCount-1) widest
    * gaps; detection succeeds iff each of those column breaks is a REAL
    * gap (> `tolerance` px) — clusters themselves may be wide, because
    * indented continuation lines legitimately sit deep inside a column.
    * A line belongs to a column if its x0 is within `tolerance` of the
    * cluster's left edge; indented lines (x0 deeper than that) get
    * columnIndex = None, mirroring the reference's
    * `columnIndex !== undefined` filter.
    *
    * Deterministic, O(n log n) per page, no state shared across pages —
    * embarrassingly parallel across a cluster.
    */
  def detectColumns(lines: Seq[RawLine], columnCount: Int,
                    tolerance: Int = 40): Option[Seq[OcrLine]] = {
    if (lines.isEmpty || columnCount < 1) return None
    val xs = lines.map(_.bbox(0)).sorted
    if (columnCount == 1) {
      val left = xs.head
      return Some(assign(lines, Seq(left), tolerance))
    }
    if (xs.distinct.size < columnCount) return None
    // gaps between consecutive sorted x0s; split at the k-1 widest
    val gaps = xs.sliding(2).zipWithIndex
      .map { case (Seq(a, b), i) => (b - a, i) }.toSeq
    val cuts = gaps.sortBy(-_._1).take(columnCount - 1).map(_._2).sorted
    // every column break must be a real gap; otherwise the expected
    // column structure does not exist on this page → detection fails
    if (cuts.exists { i => gaps(i)._1 <= tolerance }) return None
    val bounds = (Seq(0) ++ cuts.map(_ + 1) :+ xs.length)
    val clusters = bounds.sliding(2).map {
      case Seq(a, b) => xs.slice(a, b)
    }.toSeq
    // a cluster's left edge anchors the column; deeper x0s in the same
    // cluster are indented continuations and stay unassigned (`assign`)
    Some(assign(lines, clusters.map(_.head), tolerance))
  }

  private def assign(lines: Seq[RawLine], lefts: Seq[Int],
                     tolerance: Int): Seq[OcrLine] =
    lines.map { l =>
      val x0 = l.bbox(0)
      val idx = lefts.zipWithIndex
        .find { case (left, _) => x0 >= left && x0 <= left + tolerance }
        .map(_._2)
      OcrLine(idx, l.bbox, l.text)
    }

  /** Full page step: parse + detect. None = detection failed (page is
    * dropped, city-directories.js:233).
    */
  def detectPage(hocr: String, columnCount: Int): Option[Seq[OcrLine]] =
    detectColumns(parseLines(hocr), columnCount)
}
