package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-level implementations of the reference's per-row operators
  * (SURVEY.md §2.3-2.4). Everything here is built from
  * `org.apache.spark.sql.functions` only — fully codegen'd inside
  * whole-stage codegen, no UDFs, no shuffles.
  */
object CityDirOps {

  /** O-15: year-union normalization. `"1850/51"` → (1850, 1851) — the
    * reference computes `years[0] + 1`, NOT the printed suffix
    * (city-directories.js:121,127); `"1850"` → (1850, 1850).
    * Returns struct(yearMin, yearMax); null/empty input → null.
    *
    * Fused native kernel (`functions.YearNormExpr`): ONE byte-level
    * parse per row. The declarative formulation below stays as the
    * executable spec — Catalyst substitutes its regex tree into the
    * projection once per referenced struct field, so reading both
    * bounds runs the regex machinery twice (PropertySpec pins
    * native == declarative on random year strings).
    */
  def yearNorm(year: Column): Column =
    graft.functions.YearInRange.yearNorm(year)

  /** The declarative O-15 formulation (reference semantics spelled in
    * `functions._`); kept as the property-test oracle for [[yearNorm]].
    */
  def yearNormDeclarative(year: Column): Column = {
    // JS parseInt semantics (leading digits, junk → NaN→null) — also keeps
    // Spark 4's ANSI cast from throwing on malformed input
    val y0str = regexp_extract(split(year, "/").getItem(0), "^\\s*(\\d+)", 1)
    val y0 = when(y0str =!= "", y0str.cast("int"))
    when(y0.isNotNull,
      struct(
        y0.as("yearMin"),
        when(year.contains("/"), y0 + 1).otherwise(y0).as("yearMax")))
  }

  /** O-13: trim, then empty string → null (city-directories.js:116-117). */
  def trimToNull(c: Column): Column = nullif(trim(c), lit(""))

  /** O-14: string → int cast (parseInt semantics: leading digits;
    * Spark's int cast rejects trailing junk — acceptable tightening,
    * manifest values are numeric strings). city-directories.js:124-126.
    */
  def toInt(c: Column): Column = c.cast("int")

  /** O-22: manifest validity — all five keys present & truthy
    * (city-directories.js:130). JS truthiness makes 0 invalid too, so the
    * int columns also exclude 0.
    */
  def manifestValid(uuid: Column, yearMin: Column, startPage: Column,
                    endPage: Column, columnCount: Column): Column =
    uuid.isNotNull && yearMin.isNotNull && yearMin =!= 0 &&
      startPage.isNotNull && startPage =!= 0 &&
      endPage.isNotNull && endPage =!= 0 &&
      columnCount.isNotNull && columnCount =!= 0

  /** O-23: year-interval CONTAINMENT filter (not overlap): volume
    * qualifies iff fully inside [minYear, maxYear]; each bound optional
    * (city-directories.js:182-195).
    */
  def yearInterval(yearMin: Column, yearMax: Column,
                   lo: Option[Int], hi: Option[Int]): Column = {
    val notTooOld = lo.map(y => yearMin >= y).getOrElse(lit(true))
    val notTooYoung = hi.map(y => yearMax <= y).getOrElse(lit(true))
    notTooOld && notTooYoung
  }

  /** O-25: body-page filter `startPage <= pageNum <= endPage`
    * (city-directories.js:200) — a theta predicate against metadata the
    * source denormalized onto the page row, so it stays a filter, not a
    * join.
    */
  def pageInRange(pageNum: Column, startPage: Column, endPage: Column): Column =
    pageNum >= startPage && pageNum <= endPage

  /** O-17: collapse dot runs in OCR text (city-directories.js:245). */
  def collapseDots(text: Column): Column =
    regexp_replace(text, "\\.+", ".")

  /** O-18: deterministic ID minting (`makeId`, city-directories.js:261-270):
    * `"<year|min-max>.<pageNum>.<x0-y0-x1-y1>"`. Mirrors JS truthiness:
    * missing/0 year or pageNum, or missing/empty bbox → null (the caller
    * turns null ids into `log` records, city-directories.js:356-364).
    */
  def mintId(yearMin: Column, yearMax: Column, pageNum: Column,
             bbox: Column): Column = {
    val yearPart = when(yearMin === yearMax, yearMin.cast("string"))
      .otherwise(concat_ws("-", yearMin, yearMax))
    when(yearMin.isNotNull && yearMin =!= 0 &&
         pageNum.isNotNull && pageNum =!= 0 &&
         bbox.isNotNull && size(bbox) > 0,
      concat_ws(".", yearPart, pageNum, array_join(bbox, "-")))
  }

  /** O-20: first-element projection (`parsed.subjects[0]`,
    * city-directories.js:377-378); null-safe on null/empty arrays.
    */
  def firstElement(arr: Column): Column =
    when(arr.isNotNull && size(arr) > 0, element_at(arr, 1))
}
