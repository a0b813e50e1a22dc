package graft.parse

import graft.model.{Location, ParsedEntry}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native replacement for the reference's external CRF entry parser
  * (entry-parser.js:7-91 spawns `python3 parse.py --training ...` and
  * FIFO-pairs results with inputs; output shape consumed at
  * city-directories.js:291,377-379).
  *
  * The CRF's training data is not reproducible, so parity here is the
  * output CONTRACT — `{subjects[], occupations[], locations[{value}]}` —
  * plus deterministic, documented extraction rules over the classic city-
  * directory entry grammar `"SURNAME Forename[, occupation][, address…]"`:
  *
  *  - segments are comma-separated, trimmed, empties dropped;
  *  - a segment is an ADDRESS if it starts with a house number, starts
  *    with an h/r home-marker followed by a number ("h 45 Broadway"), or
  *    ends with a street designator (st, av, bway, pl, …);
  *  - the first non-address segment is the SUBJECT (person name);
  *  - remaining non-address segments are OCCUPATIONS.
  *
  * Runs as a plain Scala function inside codegen'd projection via `udf`
  * (row-local, no state, no shuffle) — SURVEY.md O-32 design (b): no
  * Python at runtime. For genuine external parsers, `PipeParser` keeps
  * the reference's per-partition process semantics as an escape hatch.
  */
object EntryParser {

  private[graft] val streetWords: Set[String] = Set(
    "st", "street", "av", "ave", "avenue", "bway", "broadway", "pl",
    "place", "rd", "road", "la", "lane", "ct", "court", "sq", "square",
    "row", "alley", "bowery", "blvd", "boulevard", "ter", "terrace",
    "dr", "drive", "pk", "park", "slip", "wharf", "pier", "mkt", "market")

  /** Street designators that are ALSO real one-word street names in the
    * corpus ("Bowery", "Broadway"): a bare segment of one of these is a
    * plausible address on its own. Every other designator standing
    * alone ("dr", "mkt", "st") carries no street name and is
    * overwhelmingly an occupation abbreviation (doctor, marketman) or
    * OCR debris — those now prefer NON-address. Multi-word segments
    * ending in a designator ("cooper dr") stay addresses: with a
    * potential street name present the collision is genuinely
    * ambiguous, and a trained CRF is the only thing that could do
    * better (documented divergence, EntryParserSpec).
    *
    * This DEFAULT set is the hand-curated fallback for call sites with
    * no geocoder dimension in hand; [[standaloneStreetsFrom]] derives
    * the same knowledge from the dimension itself — the corpus's actual
    * street names are the closest a rule parser gets to the CRF's
    * lexical training data — and the flagship pipeline sources it there.
    */
  val defaultStandaloneStreets: Set[String] =
    Set("broadway", "bway", "bowery")

  /** Derive the standalone-street whitelist from the geocoder dimension:
    * street names that normalize to a SINGLE word, plus the classic
    * abbreviations that expand to one of them (corpus text writes
    * "bway"; the dimension spells "Broadway"). Only words that are
    * street designators can ever consult the whitelist (it is checked
    * after a `streetWords` hit), so the filter keeps the collect bounded
    * by |streetWords| regardless of dimension size — safe at any scale
    * the geocoder guardrail admits.
    */
  def standaloneStreetsFrom(
      dim: org.apache.spark.sql.Dataset[graft.model.GeoAddress])
      : Set[String] = {
    import org.apache.spark.sql.functions.{col, lower, trim}
    val oneWord = dim.select(lower(trim(col("streetName"))).as("n"))
      .filter(!col("n").contains(" "))
      .filter(col("n").isin(streetWords.toSeq: _*))
      .distinct().collect().map(_.getString(0)).toSet
    val reverseAbbrev = graft.geocode.Geocoder.abbreviations.collect {
      case (ab, full) if oneWord.contains(full) && streetWords.contains(ab)
        => ab
    }.toSet
    oneWord ++ reverseAbbrev
  }

  def isAddress(segment: String): Boolean =
    isAddress(segment, defaultStandaloneStreets)

  /** The address test on one segment, after `trim` and `toLowerCase`
    * (whitespace is ASCII `\s`: space, tab, LF, VT, FF, CR; digits are
    * ASCII `0`–`9`; a line terminator is LF, CR, U+0085, U+2028 or
    * U+2029). A segment is an address if it is
    *  - a house number: digits, then either nothing or a whitespace
    *    character or comma followed by text with no line terminator
    *    ("12 Broadway", "12,");
    *  - home-marked: `h`, `r`, `h.` or `r.`, whitespace, then a digit
    *    followed by text with no line terminator ("h 45 Broadway");
    *  - or a street: split into words at runs of whitespace and `.`, its
    *    last word is a street designator, and either another word comes
    *    before it or the designator is in `standalone`.
    */
  def isAddress(segment: String, standalone: Set[String]): Boolean = {
    val s = segment.trim.toLowerCase
    if (s.isEmpty) false
    else if (isHouseNumber(s) || isHomeMarked(s)) true
    else {
      var end = s.length
      while (end > 0 && isWordBreak(s.charAt(end - 1))) end -= 1
      var start = end
      while (start > 0 && !isWordBreak(s.charAt(start - 1))) start -= 1
      val lastWord = s.substring(start, end)
      if (!streetWords.contains(lastWord)) false
      else (0 until start).exists(i => !isWordBreak(s.charAt(i))) ||
        standalone.contains(lastWord)
    }
  }

  private def isWordBreak(c: Char): Boolean =
    c == '.' || RegexChars.isSpace(c)

  private def isHouseNumber(s: String): Boolean = {
    var i = 0
    while (i < s.length && RegexChars.isDigit(s.charAt(i))) i += 1
    i > 0 && (i == s.length ||
      ((RegexChars.isSpace(s.charAt(i)) || s.charAt(i) == ',') &&
        RegexChars.noLineTerminatorFrom(s, i + 1)))
  }

  private def isHomeMarked(s: String): Boolean =
    (s.charAt(0) == 'h' || s.charAt(0) == 'r') && {
      var i = if (s.length > 1 && s.charAt(1) == '.') 2 else 1
      val spaces = i
      while (i < s.length && RegexChars.isSpace(s.charAt(i))) i += 1
      i > spaces && i < s.length && RegexChars.isDigit(s.charAt(i)) &&
        RegexChars.noLineTerminatorFrom(s, i + 1)
    }

  /** Parse one OCR entry line into the contract shape. Never throws;
    * degenerate input yields empty arrays (the reference's CRF likewise
    * always answers — errors stay in-band, SURVEY.md §4).
    */
  def parse(text: String): ParsedEntry =
    parse(text, defaultStandaloneStreets)

  def parse(text: String, standalone: Set[String]): ParsedEntry = {
    if (text == null) return ParsedEntry(Nil, Nil, Nil)
    val segments = text.split(',').iterator
      .map(_.trim).filter(_.nonEmpty).toList
    var subject: Option[String] = None
    val occupations = List.newBuilder[String]
    val locations = List.newBuilder[Location]
    segments.foreach { seg =>
      if (isAddress(seg, standalone)) locations += Location(seg)
      else if (subject.isEmpty) subject = Some(seg)
      else occupations += seg
    }
    ParsedEntry(subject.toList, occupations.result(), locations.result())
  }

  /** Catalyst output shape — identical to what the `udf` form derives by
    * reflection from [[ParsedEntry]], so the kernel and UDF paths are
    * interchangeable at every call site.
    */
  val parsedSchema: StructType = StructType(Seq(
    StructField("subjects", ArrayType(StringType)),
    StructField("occupations", ArrayType(StringType)),
    StructField("locations",
      ArrayType(StructType(Seq(StructField("value", StringType)))))))

  /** Kernel for [[ParseEntryExpr]]: parse straight from Spark's internal
    * string into an InternalRow, skipping the UDF boundary's
    * catalyst→scala→catalyst conversion (and its per-row Encoder
    * round-trip of three nested collections). Same rules as [[parse]];
    * null input yields the empty struct, never a null.
    */
  def parseRow(text: UTF8String): InternalRow =
    parseRow(text, defaultStandaloneStreets)

  def parseRow(text: UTF8String, standalone: Set[String]): InternalRow = {
    val p = parse(if (text == null) null else text.toString, standalone)
    new GenericInternalRow(Array[Any](
      new GenericArrayData(
        p.subjects.iterator.map(UTF8String.fromString).toArray[Any]),
      new GenericArrayData(
        p.occupations.iterator.map(UTF8String.fromString).toArray[Any]),
      new GenericArrayData(p.locations.iterator.map { l =>
        new GenericInternalRow(Array[Any](UTF8String.fromString(l.value)))
      }.toArray[Any])))
  }

  /** Column form returning
    * struct(subjects array<string>, occupations array<string>,
    *        locations array<struct<value string>>).
    *
    * Kept for the PerfCompare A/B against the codegen kernel; production
    * call sites go through [[parseEntry]].
    */
  val parseUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf((text: String) => parse(text))

  /** Codegen form — ONE static call inside whole-stage codegen, closing
    * the last UDF boundary in the flagship `parse` pipeline (round-3
    * verdict item 3).
    */
  def parseEntry(text: Column,
                 standalone: Set[String] = defaultStandaloneStreets)
      : Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(
      ParseEntryExpr(ColumnBridge.expression(text), standalone))
  }
}

/** Whole-stage-codegen form of the entry parser (the ShingleGen /
  * QuantizeInt8 / JlProject kernel pattern): the parse is one static
  * call returning the contract struct, so the flagship pipeline's
  * hottest projection stays inside a single codegen stage instead of
  * breaking at a Scala UDF's serialization boundary.
  *
  * Value semantics are exactly [[EntryParser.parse]] (shared kernel);
  * like the UDF form, a null line degrades to the empty struct rather
  * than a null — errors stay in-band (SURVEY.md §4), so `nullable` is
  * honestly false and downstream null-handling plans stay tight.
  */
case class ParseEntryExpr(
    child: Expression,
    standalone: Set[String] = EntryParser.defaultStandaloneStreets)
  extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // `_: StringType`, not the singleton: a collated string column is
    // still a string to parseRow (UTF8String in, same kernel), and the
    // singleton pattern only matches the default collation.
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"parse_entry expects string, got ${other.simpleString}")
  }

  override def dataType: DataType = EntryParser.parsedSchema

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    EntryParser.parseRow(child.eval(input).asInstanceOf[UTF8String],
      standalone)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    // the whitelist rides the serialized expression to every executor
    // (NOT a JVM-global, which would silently diverge on a cluster) and
    // enters the generated code as a reference object
    val setRef = ctx.addReferenceObj("standaloneStreets", standalone,
      "scala.collection.immutable.Set")
    ev.copy(code = code"""
      ${c.code}
      org.apache.spark.sql.catalyst.InternalRow ${ev.value} =
        graft.parse.EntryParser.parseRow(${c.isNull} ? null : ${c.value},
          $setRef);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(c: Expression): ParseEntryExpr =
    copy(child = c)

  override def prettyName: String = "parse_entry"
}
