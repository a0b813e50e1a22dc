package graft

import graft.geocode.Geocoder
import graft.model.{DirectoryMeta, GeoAddress, LineRecord}
import graft.operators.{CityDirOps, TransformOps}
import graft.parse.EntryParser
import graft.sources.{Hocr, HocrArchive, UnionSink}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The four reference steps (`module.exports.steps`,
  * city-directories.js:455-460) as Spark jobs. The reference checkpoints
  * every step through NDJSON files; here steps are `DataFrame =>
  * DataFrame` and fuse into one narrow pipeline when chained — checkpoints
  * become optional `write`s instead of mandatory boundaries.
  *
  * The whole reference dataflow is map-only (SURVEY.md §4: zero wide
  * dependencies); this implementation preserves that: parse/geocode/
  * transform produce NO shuffle and the sink no sort — the only exchange
  * is the `geocodeViaJoin` variant's re-collect.
  * Every step is also a single pass over its input: chained uncached,
  * `writeUnion(transform(geocode(parse(…))))` reads each archive once.
  */
object CityDirectories {

  /** `parse` step (city-directories.js:170-259): manifest → year filter →
    * availability filter → archive scan with pushed page-range filter →
    * column detection → line explode → dot-collapse → entry parse. The
    * year-filtered manifest is collected once on the driver, and the
    * archive scan looks each archive's rows up in it (see
    * [[HocrArchive.readPages]]): no join and no broadcast stage runs
    * before the scan.
    */
  def parse(spark: SparkSession, manifest: Dataset[DirectoryMeta],
            archiveDir: String, minYear: Option[Int] = None,
            maxYear: Option[Int] = None,
            standaloneStreets: Set[String] =
              EntryParser.defaultStandaloneStreets): DataFrame = {
    import spark.implicits._
    // year-interval CONTAINMENT filter before any archive is opened —
    // the reference's manual pushdown (city-directories.js:191-196)
    val inRange = manifest.filter(
      CityDirOps.yearInterval(col("yearMin"), col("yearMax"), minYear, maxYear))
    val pages = HocrArchive.readPages(spark, archiveDir, inRange)
    // column detect (O-29) + in-column filter (O-27) + line explode (O-30)
    // as one typed flatMap: per-page work, no state across pages
    val lines: Dataset[LineRecord] = pages.flatMap { p =>
      Hocr.detectPage(p.hocr, p.columnCount).toSeq.flatten
        .filter(_.columnIndex.isDefined)
        .map(l => LineRecord(p.uuid, p.yearMin, p.yearMax, p.imageId,
          p.pageUuid, p.pageNum, l.bbox, l.text))
    }
    lines.toDF()
      .withColumn("text", CityDirOps.collapseDots(col("text"))) // O-17
      .withColumn("parsed",
        EntryParser.parseEntry(col("text"), standaloneStreets)) // O-32(b)
  }

  /** `geocode` step (city-directories.js:272-323): broadcast-lookup every
    * parsed location in a packed [[graft.geocode.GeoIndex]], misses
    * in-band. One native `geocode` expression per line, so the step runs
    * in the codegen stage that parses the line.
    */
  def geocode(spark: SparkSession, lines: DataFrame,
              dim: Dataset[GeoAddress]): DataFrame =
    Geocoder.geocode(lines, Geocoder.buildIndex(spark, dim))

  /** `transform` step (city-directories.js:338-451): tagged union of
    * object/relation/log records, generated in one pass over `geocoded`
    * by `inline` over one native `tagged_records` expression per line
    * (see [[TransformOps.taggedUnion]]), in the same codegen stage as
    * `parse` and `geocode`. A union of one branch per record kind would
    * re-run the uncached scan → detect → parse → geocode lineage once
    * per branch.
    */
  def transform(geocoded: DataFrame): DataFrame =
    TransformOps.taggedUnion(geocoded)

  /** Union sink (SURVEY.md O-9): the reference writes records one at a
    * time through a single writer (`.series()`, city-directories.js:449);
    * here one partition-parallel NDJSON write through [[UnionSink]], one
    * directory per record kind. Each task writes its rows as they come,
    * one open file per kind, so the sink adds no sort and no stage to the
    * fused job; a failed write leaves the previous output in place.
    */
  def writeUnion(df: DataFrame, path: String): Unit =
    df.write.format(classOf[UnionSink].getName).mode("overwrite").save(path)
}
