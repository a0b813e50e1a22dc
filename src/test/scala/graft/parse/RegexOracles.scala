package graft.parse

import graft.sources.Hocr.RawLine
import java.util.regex.Pattern
import scala.util.matching.Regex

/** The regex forms of the three per-record text kernels, as they stood
  * before the hand-written scanners replaced them: the reference the
  * parity specs compare `Hocr.parseLines`, `Geocoder.normalizeAddress`
  * (String form) and `EntryParser.isAddress` against.
  */
object RegexOracles {

  private val lineStartRe: Regex =
    """<(?:span|div|p)\b[^>]*class=['"][^'"]*ocr_line[^'"]*['"][^>]*>""".r
  private val titleAttrRe: Regex =
    """title=['"]([^'"]*)['"]""".r
  private val bboxRe: Regex =
    """bbox (\d+) (\d+) (\d+) (\d+)""".r
  private val tagRe: Regex = "<[^>]+>".r
  private val wsRe: Regex = "\\s+".r

  def parseLines(hocr: String): Seq[RawLine] = {
    val starts = lineStartRe.findAllMatchIn(hocr).toVector
    starts.zipWithIndex.flatMap { case (m, i) =>
      val contentEnd =
        if (i + 1 < starts.length) starts(i + 1).start else hocr.length
      val inner = hocr.substring(m.end, contentEnd)
      val bbox = titleAttrRe.findFirstMatchIn(m.matched)
        .flatMap(t => bboxRe.findFirstMatchIn(t.group(1)))
        .map(b => Array(b.group(1).toInt, b.group(2).toInt,
                        b.group(3).toInt, b.group(4).toInt))
      val text = wsRe.replaceAllIn(
        unescape(tagRe.replaceAllIn(inner, " ")), " ").trim
      bbox.filter(_ => text.nonEmpty).map(RawLine(_, text))
    }
  }

  private def unescape(s: String): String =
    s.replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'")
      .replace("&amp;", "&")

  private val stringRules: Seq[(Pattern, String)] =
    (("[.,;:']" -> "") +: ("^[hr] +" -> "") +:
      graft.geocode.Geocoder.abbreviations.map { case (ab, full) =>
        s"\\b$ab\\b" -> full } :+
      ("\\s+" -> " ")).map { case (re, to) => Pattern.compile(re) -> to }

  def normalizeAddress(s: String): String =
    stringRules.foldLeft(s.trim.toLowerCase) { case (x, (re, to)) =>
      re.matcher(x).replaceAll(to)
    }

  private val houseNumRe = "^\\d+([\\s,].*)?$".r
  private val homeMarkerRe = "^(h|r|h\\.|r\\.)\\s+\\d.*".r

  def isAddress(segment: String, standalone: Set[String]): Boolean = {
    val s = segment.trim.toLowerCase
    if (s.isEmpty) false
    else if (houseNumRe.pattern.matcher(s).matches) true
    else if (homeMarkerRe.pattern.matcher(s).matches) true
    else {
      val words = s.split("[\\s.]+").filter(_.nonEmpty)
      val lastWord = words.lastOption.getOrElse("")
      if (!EntryParser.streetWords.contains(lastWord)) false
      else words.length > 1 || standalone.contains(lastWord)
    }
  }
}
