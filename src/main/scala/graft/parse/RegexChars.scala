package graft.parse

/** The `java.util.regex` character classes the hand-written text kernels
  * ([[graft.sources.Hocr.parseLines]],
  * [[graft.geocode.Geocoder.normalizeAddress]], [[EntryParser.isAddress]])
  * reproduce, spelled out so those kernels run without a regex engine on
  * the per-record path yet keep the regex forms' exact output. Each
  * predicate is the JDK 17 definition, with no pattern flags set.
  */
private[graft] object RegexChars {

  /** `\s`: the six ASCII whitespace characters. */
  def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  /** `\d`: ASCII digits only. */
  def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

  /** What `.` refuses: the line terminators `\n`, `\r`, U+0085, U+2028
    * and U+2029.
    */
  def isLineTerminator(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' ||
      c == '\u2029'

  /** True if no line terminator occurs in `s` from `from` on: what `.*$`
    * needs to match the rest of `s`.
    */
  def noLineTerminatorFrom(s: String, from: Int): Boolean = {
    var i = from
    while (i < s.length) {
      if (isLineTerminator(s.charAt(i))) return false
      i += 1
    }
    true
  }

  private def isWord(cp: Int): Boolean =
    cp == '_' || Character.isLetterOrDigit(cp)

  private def isMark(cp: Int): Boolean =
    Character.getType(cp) == Character.NON_SPACING_MARK

  /** `\b` right after a letter: true if the code point at `i` continues
    * the word — a word character, or a non-spacing mark (which counts as
    * part of the letter before it) — so there is no boundary at `i`.
    */
  def continuesWord(s: CharSequence, i: Int): Boolean =
    i < s.length && {
      val cp = Character.codePointAt(s, i)
      isWord(cp) || isMark(cp)
    }

  /** `\b` right before a letter: true if the text before `i` ends in a
    * word — a word character, or a non-spacing mark whose run of marks
    * rests on a letter or digit — so there is no boundary at `i`. The
    * backward walk steps one `char` at a time, as the regex engine's
    * does.
    */
  def endsWord(s: CharSequence, i: Int): Boolean =
    i > 0 && {
      val cp = Character.codePointBefore(s, i)
      isWord(cp) || (isMark(cp) && marksRestOnBase(s, i - 1))
    }

  private def marksRestOnBase(s: CharSequence, from: Int): Boolean = {
    var x = from
    while (x >= 0) {
      val cp = Character.codePointAt(s, x)
      if (Character.isLetterOrDigit(cp)) return true
      if (!isMark(cp)) return false
      x -= 1
    }
    false
  }
}
