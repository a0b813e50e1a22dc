package graft

import graft.fixtures.CityDirFixture
import graft.sources.Manifest
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** End-to-end golden test of the four-step pipeline on the deterministic
  * fixture corpus (SURVEY.md §5: the reference ships no tests, so goldens
  * are authored here).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  lazy val dir: String = {
    val d = Files.createTempDirectory("graft-fixture").toString
    CityDirFixture.ensure(d)
    d
  }
  lazy val manifest = Manifest.load(spark,
    Files.readString(Paths.get(dir, "manifest.html")))
  lazy val lines = CityDirectories.parse(spark, manifest, dir).cache()
  lazy val geocoded = CityDirectories.geocode(spark, lines,
    spark.createDataset(CityDirFixture.dimension)).cache()
  lazy val union = CityDirectories.transform(geocoded).cache()

  test("parse: body pages only, per-page line counts, keys denormalized") {
    // vol-a: pages 2,3 in range (1, 9 pruned); vol-b: pages 2,4.
    // 6 entries per page assigned to columns; the indented continuation
    // line must be dropped.
    val perPage = lines.groupBy("uuid", "pageNum").count()
      .orderBy("uuid", "pageNum").as[(String, Int, Long)].collect().toSeq
    assert(perPage == Seq(
      ("vol-a-0001", 2, 6L), ("vol-a-0001", 3, 6L),
      ("vol-b-0002", 2, 6L), ("vol-b-0002", 4, 6L)))
  }

  test("parse: year union propagated; dots collapsed; parsed attached") {
    val r = lines.filter(col("uuid") === "vol-a-0001" && col("pageNum") === 2 &&
        col("text").contains("Smith"))
      .select("yearMin", "yearMax", "text", "parsed.subjects", "parsed.locations.value")
      .collect().head
    assert(r.getInt(0) == 1850 && r.getInt(1) == 1851)
    // fixture text contains 'Smith John...' dot run → single dot after collapse
    assert(r.getString(2).contains("Smith John."))
    assert(!r.getString(2).contains(".."))
    assert(r.getSeq[String](3) == Seq("p2 Smith John."))
    assert(r.getSeq[String](4) == Seq("123 Broadway"))
  }

  test("geocode: found and miss branches in-band") {
    val stats = geocoded
      .select(explode(col("geocoded")).as("g"))
      .groupBy(col("g.found")).count()
      .as[(Boolean, Long)].collect().toMap
    // per page: Smith→found, Jones→found, Brown 2 addrs→found+found,
    // Davis→found, Miller '88 Canal st'→miss, Wilson '3 Maiden lane'→miss
    assert(stats(true) == 4 * 5L)
    assert(stats(false) == 4 * 2L)
  }

  test("transform: tagged union counts") {
    val counts = union.groupBy("type").count().as[(String, Long)]
      .collect().toMap
    // 24 lines → 24 objects; 5 found addresses per page → 20 relations;
    // 2 misses per page → 8 logs (no id-mint failures in the fixture)
    assert(counts == Map("object" -> 24L, "relation" -> 20L, "log" -> 8L))
  }

  test("transform: object record shape matches the contract") {
    val o = union.filter(col("type") === "object" &&
        col("data.text").contains("Brown"))
      .orderBy("data.pageNum", "id").limit(1)
      .select("id", "objType", "name", "validSince", "validUntil",
        "data.volumeUuid", "data.occupation", "geometry.type")
      .collect().head
    assert(o.getString(0).startsWith("1850-1851.2."))
    assert(o.getString(1) == "st:Person")
    assert(o.getString(2) == "p2 Brown Wm.")
    assert(o.getInt(3) == 1850 && o.getInt(4) == 1851)
    assert(o.getString(5) == "vol-a-0001")
    assert(o.getString(6) == "grocer")
    // Brown has two found addresses → MultiPoint (city-directories.js:325-336)
    assert(o.getString(7) == "MultiPoint")
  }

  test("transform: relations point from minted id to address id") {
    val r = union.filter(col("type") === "relation").limit(1)
      .select("relType", "from", "to").collect().head
    assert(r.getString(0) == "st:in")
    assert(r.getString(1).matches("""1850-1851\.\d+\..*|1851\.\d+\..*"""))
    assert(r.getString(2).startsWith("addr-"))
  }

  test("geometry JSON restores exact GeoJSON (Point unwrap)") {
    // as the sink writes it: GeoJSON text in each object record
    val out = Files.createTempDirectory("graft-out").toString
    CityDirectories.writeUnion(union, out)
    val js = spark.read.json(s"$out/type=object")
      .filter(col("geometry").isNotNull).select("geometry")
      .as[String].collect()
    assert(js.exists(_.startsWith("""{"type":"Point","coordinates":[-""")))
    assert(js.exists(_.startsWith("""{"type":"MultiPoint","coordinates":[[-""")))
  }

  test("contract enforcement: exact columns, exact data payload") {
    import graft.operators.TransformOps
    val enforced = TransformOps.enforceContract(union)
    assert(enforced.columns.toSeq == TransformOps.unionColumns)
    // dropping a payload field must fail fast at plan time
    val broken = union.withColumn("data",
      col("data").dropFields("occupation"))
    intercept[IllegalArgumentException] {
      TransformOps.enforceContract(broken)
    }
  }

  test("observation metrics ride the parse job") {
    import graft.operators.ProgressOps
    val (observed, obs) = ProgressOps.observed(lines, "parse-progress")
    assert(observed.count() == 24)
    val m = obs.get
    assert(m("rows") == 24L)
    assert(m("min_year") == 1850 && m("max_year") == 1851)
    val perYear = ProgressOps.perYearCounts(lines)
      .as[(Int, Long)].collect().toMap
    assert(perYear == Map(1850 -> 12L, 1851 -> 12L))
  }

  test("union sink writes per-type NDJSON partitions") {
    val out = Files.createTempDirectory("graft-out").toString
    CityDirectories.writeUnion(union, out)
    val objLines = spark.read.json(s"$out/type=object").count()
    assert(objLines == 24)
  }
}
