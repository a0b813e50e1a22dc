package graft.operators

import graft.{CityDirectories, SparkJsonUnionOracle, SparkSpec}
import graft.fixtures.CityDirFixture
import graft.geocode.{GeocodeUdfOracle, Geocoder}
import graft.model.{GeoAddress, GeoProperties, GeoRef, GeoResult, Geometry,
  Location, ParsedEntry}
import graft.sources.Manifest
import org.apache.spark.sql.{DataFrame, Row}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Random

/** One parsed line as the `geocode` step receives it. */
final case class SeededLine(
    uuid: String,
    yearMin: Int,
    yearMax: Int,
    pageUuid: String,
    pageNum: Int,
    bbox: Seq[Int],
    text: String,
    parsed: ParsedEntry)

/** A `geocoded` entry as a hand-built input may hold it: every field,
  * `found` included, may be null. */
final case class LooseGeocoded(
    found: Option[Boolean],
    result: Option[GeoResult],
    error: Option[String])

/** One geocoded line whose entries may be null. */
final case class LooseLine(
    uuid: String,
    yearMin: Int,
    yearMax: Int,
    pageUuid: String,
    pageNum: Int,
    bbox: Seq[Int],
    text: String,
    parsed: ParsedEntry,
    geocoded: Seq[Option[LooseGeocoded]])

/** The native `geocode` and `tagged_records` expressions against the
  * forms they replaced ([[GeocodeUdfOracle]], [[TaggedUnionOracle]]):
  * whole rows, the union's schema, and the NDJSON `writeUnion` writes
  * against what Spark's JSON writer makes of the oracle union
  * ([[SparkJsonUnionOracle]]), byte for byte, on the fixture corpus and
  * on seeded lines that hold every null and edge case the pipeline can
  * meet.
  */
class TaggedUnionParitySpec extends SparkSpec {
  import spark.implicits._

  // Row equality is structural, nested rows and arrays too
  private def assertSameRows(actual: DataFrame, expected: DataFrame): Unit = {
    def counts(df: DataFrame) =
      df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    val (a, e) = (counts(actual), counts(expected))
    assert(a == e, s"\nonly native:\n${(a.keySet -- e.keySet).take(5)
      .mkString("\n")}\nonly oracle:\n${(e.keySet -- a.keySet).take(5)
      .mkString("\n")}")
  }

  /** Each `type=` directory's part files, in part order, as text that
    * equals another only if the bytes do, written by `write`. */
  private def ndjson(union: DataFrame,
                     write: (DataFrame, String) => Unit =
                       CityDirectories.writeUnion): Map[String, Seq[String]] = {
    val out = Files.createTempDirectory("graft-ndjson").resolve("out")
    write(union, out.toString)
    def list(p: Path) = Files.list(p).iterator().asScala.toSeq
    list(out).filter(Files.isDirectory(_)).map { dir =>
      dir.getFileName.toString -> list(dir)
        .filter(_.getFileName.toString.startsWith("part-"))
        .sortBy(_.getFileName.toString.take(10))
        .map(f => new String(Files.readAllBytes(f), ISO_8859_1))
    }.toMap
  }

  private def assertParity(lines: DataFrame,
                           index: org.apache.spark.broadcast.Broadcast[
                             graft.geocode.GeoIndex]): Unit = {
    val native = Geocoder.geocode(lines, index)
    val oracle = GeocodeUdfOracle.geocode(lines, index)
    assert(native.schema("geocoded").dataType ==
      oracle.schema("geocoded").dataType)
    assertSameRows(native, oracle)
    val union = TransformOps.taggedUnion(native)
    val oracleUnion = TaggedUnionOracle.taggedUnion(oracle)
    assert(union.schema == oracleUnion.schema)
    assertSameRows(union, oracleUnion)
    // the sink over the native union, Spark's JSON writer over the oracle's
    val (written, oracleWritten) =
      (ndjson(union), ndjson(oracleUnion, SparkJsonUnionOracle.writeUnion))
    assert(written.keySet == Set("type=object", "type=relation", "type=log"))
    assert(written == oracleWritten)
  }

  test("fixture corpus: geocoded rows, union rows and NDJSON bytes match the oracles") {
    val dir = Files.createTempDirectory("graft-fixture").toString
    CityDirFixture.ensure(dir)
    val manifest = Manifest.load(spark,
      Files.readString(Paths.get(dir, "manifest.html")))
    val lines = CityDirectories.parse(spark, manifest, dir).cache()
    assertParity(lines, Geocoder.buildIndex(spark,
      spark.createDataset(CityDirFixture.dimension)))
    lines.unpersist()
  }

  private def address(id: String, name: String, street: String,
                      geometry: Geometry): GeoAddress =
    GeoAddress(id, name, s"$id-st", street,
      Geocoder.normalizeAddress(Option(name).getOrElse(id)), geometry)

  private def point(x: Double, y: Double) = Geometry("Point", Seq(Seq(x, y)))

  /** The fixture dimension plus every geometry shape and null field. */
  private val dimension: Seq[GeoAddress] = CityDirFixture.dimension ++ Seq(
    address("addr-m", "1 Multi Row", "Multi Row", Geometry("MultiPoint",
      Seq(Seq(-74.01, 40.70), Seq(-73.99, 40.74), Seq(-73.98, 40.75)))),
    address("addr-n", "2 No Geometry", "No Geometry", null),
    address("addr-c", "3 No Coords", "No Coords", Geometry("Point", null)),
    address("addr-p", "4 Null Point", "Null Point",
      Geometry("MultiPoint", Seq(Seq(1.0, 2.0), null))),
    address("addr-u", "6 Ærø Gade", "Ærø Gade",
      point(12.5, 55.6)),
    address("addr-t", "8 Type Null", "Type Null",
      Geometry(null, Seq(Seq(5.0, 6.0)))),
    address("addr-s", "9 Street Null", null, point(7.0, 8.0)),
    GeoAddress(null, null, null, null, "10 all null", point(9.0, 9.0)))

  private val hits = Vector("123 Broadway", "h 123 Bway.", "7 Bowery",
    "19 Pearl st", "1 Multi Row", "2 No Geometry", "3 no coords",
    "4 Null Point", "6 ÆRØ gade", "8 Type Null", "9 Street Null",
    "10 All Null")
  private val misses = Vector("999 Nowhere", "12 Straße",
    "7 Ñandú st", "東京都 1", "", "  ",
    "naïve café", "é st", "😀 12 st", "45 W 23d")

  private def seededLine(rnd: Random, i: Int): SeededLine = {
    def pick[A](xs: Vector[A]) = xs(rnd.nextInt(xs.size))
    def sometimes(p: Double) = rnd.nextDouble() < p
    def strings(prefix: String): Seq[String] =
      if (sometimes(0.1)) null
      else if (sometimes(0.1)) Seq.empty
      else Seq.tabulate(1 + rnd.nextInt(2))(k => s"$prefix $i.$k é")
    val locations =
      if (sometimes(0.05)) null
      else Seq.fill(rnd.nextInt(5))(Location(
        if (sometimes(0.55)) pick(hits) else pick(misses)))
    val yearMin = if (sometimes(0.05)) 0 else 1850 + rnd.nextInt(5)
    SeededLine(
      uuid = s"vol-${i % 7}",
      yearMin = yearMin,
      yearMax = if (sometimes(0.5)) yearMin else yearMin + 1,
      pageUuid = s"page-${i % 13}",
      pageNum = if (sometimes(0.05)) 0 else 1 + rnd.nextInt(20),
      bbox =
        if (sometimes(0.05)) null
        else if (sometimes(0.05)) Seq.empty
        else Seq.fill(4)(rnd.nextInt(3000)),
      text = s"line $i",
      parsed = ParsedEntry(strings("subject"), strings("occupation"),
        locations))
  }

  private lazy val seededLines: DataFrame = {
    val rnd = new Random(20261019L)
    spark.createDataset((0 until 2400).map(seededLine(rnd, _))).toDF()
  }

  private lazy val seededIndex =
    Geocoder.buildIndex(spark, spark.createDataset(dimension))

  test("seeded lines: geocoded rows, union rows and NDJSON bytes match the oracles") {
    val (lines, index) = (seededLines, seededIndex)
    // the cases the seed must reach, so that the parity means something
    val geocoded = Geocoder.geocode(lines, index).cache()
    val seen = geocoded.selectExpr(
      "count_if(parsed.locations is null)",
      "count_if(size(parsed.locations) = 0)",
      "count_if(size(filter(geocoded, g -> g.found)) = 1)",
      "count_if(size(filter(geocoded, g -> g.found)) > 1)",
      "count_if(exists(geocoded, g -> g.found and g.result.geometry is null))",
      "count_if(exists(geocoded, g -> g.result.geometry.coordinates is null" +
        " and g.result.geometry is not null))",
      "count_if(exists(geocoded, g -> exists(g.result.geometry.coordinates," +
        " p -> p is null)))",
      "count_if(exists(geocoded, g -> not g.found and g.error rlike" +
        " '[^\\\\x00-\\\\x7f]'))",
      "count_if(parsed.subjects is null)", "count_if(parsed.occupations is null)",
      "count_if(bbox is null)", "count_if(size(bbox) = 0)",
      "count_if(yearMin = 0)", "count_if(pageNum = 0)",
      "count_if(yearMin != yearMax)").head()
    assert((0 until seen.length).forall(seen.getLong(_) > 0), seen)
    geocoded.unpersist()
    assertParity(lines, index)
  }

  private lazy val looseLines: DataFrame = {
    val rnd = new Random(7L)
    def result(id: String, g: Geometry) = GeoResult(GeoProperties(
      GeoRef(id, s"$id name"), GeoRef(s"$id-st", s"$id street")), g)
    val results = Vector(
      Some(result("a1", point(-74.0, 40.0))),
      Some(result("a2", Geometry("MultiPoint",
        Seq(Seq(1.0, 2.0), null, Seq(3.0, 4.0))))),
      Some(result("a3", null)),
      Some(result("a4", Geometry("Point", null))),
      Some(GeoResult(null, point(1.0, 1.0))),
      Some(GeoResult(GeoProperties(null, GeoRef(null, "s")), null)),
      None)
    def entry(): Option[LooseGeocoded] = rnd.nextInt(10) match {
      case 0 => None
      case 1 => Some(LooseGeocoded(None, None, Some("lost")))
      case 2 | 3 => Some(LooseGeocoded(Some(false), None,
        if (rnd.nextBoolean()) Some("Address not found: ü") else None))
      case _ => Some(LooseGeocoded(Some(true),
        results(rnd.nextInt(results.size)), None))
    }
    (0 until 2000).map { i =>
      val s = seededLine(rnd, i)
      LooseLine(s.uuid, s.yearMin, s.yearMax, s.pageUuid, s.pageNum, s.bbox,
        s.text, s.parsed,
        if (rnd.nextInt(20) == 0) null else Seq.fill(rnd.nextInt(5))(entry()))
    }.toDS().toDF()
  }

  test("hand-built geocoded entries: null entries, null found, null results") {
    val union = TransformOps.taggedUnion(looseLines)
    val oracle = TaggedUnionOracle.taggedUnion(looseLines)
    assert(union.schema == oracle.schema)
    assertSameRows(union, oracle)
  }

  test("interpreted evaluation (no code generation) matches the oracles too") {
    val oracleGeocoded = GeocodeUdfOracle.geocode(seededLines, seededIndex)
    val oracleUnions = Seq(TaggedUnionOracle.taggedUnion(oracleGeocoded),
      TaggedUnionOracle.taggedUnion(looseLines)).map(_.collect())
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val geocoded = Geocoder.geocode(seededLines, seededIndex)
      assertSameRows(geocoded, oracleGeocoded)
      Seq(TransformOps.taggedUnion(geocoded),
        TransformOps.taggedUnion(looseLines)).zip(oracleUnions).foreach {
        case (union, expected) =>
          assert(union.collect().toSeq.sortBy(_.toString) ==
            expected.toSeq.sortBy(_.toString))
      }
    } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }
}
