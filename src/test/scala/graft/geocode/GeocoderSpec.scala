package graft.geocode

import graft.SparkSpec
import graft.fixtures.CityDirFixture
import org.apache.spark.sql.functions._

class GeocoderSpec extends SparkSpec {
  import spark.implicits._

  test("normalizeAddress: Column and String implementations agree") {
    val samples = Seq(
      "123 Broadway", "45 W 23d st", "h 19 Pearl st.", "r 7 Bowery",
      "88 Canal St", "3 Maiden lane", "  201  Water st  ", "5 E 14th av",
      "Smith's alley", "10 N Moore st",
      // regex word boundaries: Unicode letters and digits, `_` and
      // combining marks next to an abbreviation
      "\u00e9 st", "st_", "9st", "s\u0301t", "st\u0301", "\u0663 st",
      "_st w", "x\u0301 n", "\u00e9 \u0301st", "12 \u00e9st e",
      // String.trim drops every char up to U+0020 at either end, not
      // only the space
      "\tst", "12 broadway\n", "\u0001w")
    val viaCol = samples.toDF("a")
      .select(Geocoder.normalizeAddress(col("a"))).as[String].collect().toSeq
    assert(viaCol == samples.map(Geocoder.normalizeAddress))
  }

  test("normalizeAddress property: agreement on random address-ish strings") {
    val words = Vector("st", "av", "W", "Pearl", "h", "123", "broadway.",
      "E", "14th", "lane", "", "  ", "r", "St.", "AV", "\u00e9", "st_",
      "9st", "s\u0301t", "\u0301", "\u0663")
    val rnd = new scala.util.Random(42) // deterministic
    val addrs = Seq.fill(60)(
      Seq.fill(4)(words(rnd.nextInt(words.size))).mkString(" "))
    val viaCol = addrs.toDF("a")
      .select(Geocoder.normalizeAddress(col("a"))).as[String].collect().toSeq
    assert(viaCol == addrs.map(Geocoder.normalizeAddress))
  }

  test("editDistance: exact, bounded, early-exit") {
    assert(Geocoder.editDistance("broadway", "broadway", 2) == 0)
    assert(Geocoder.editDistance("brodway", "broadway", 2) == 1)
    assert(Geocoder.editDistance("brdwy", "broadway", 2) == 3) // > max → max+1
    assert(Geocoder.editDistance("abc", "xyz", 1) == 2)        // capped
  }

  test("geocodeFuzzy: exact hit, typo within edit bound, wrong number stays missed") {
    val dim = spark.createDataset(CityDirFixture.dimension)
    val idx = Geocoder.buildFuzzyIndex(spark, dim)
    val lines = Seq(
      (1L, Seq("123 Broadway")),   // exact
      (2L, Seq("123 Brodway")),    // 1 edit after normalization
      (3L, Seq("999 Broadway")),   // unknown house number → miss
      (4L, Seq("19 Paerl st"))     // transposition: 2 edits
    ).toDF("id", "vals")
      .withColumn("parsed", struct(expr(
        "transform(vals, v -> struct(v as value))").as("locations")))
      .drop("vals")
    val out = Geocoder.geocodeFuzzy(lines, idx)
      .select(col("id"), expr("geocoded[0].found").as("found"),
        expr("geocoded[0].result.properties.address.name").as("name"))
      .as[(Long, Boolean, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L)._1 && out(2L)._1 && out(4L)._1)
    assert(out(2L)._2 == out(1L)._2) // typo resolved to the same address
    assert(!out(3L)._1)
  }

  test("buildFuzzyIndex: oversized dimension fails loudly, not OOM") {
    // no join-based fuzzy fallback exists, so the driver-broadcast
    // bound is enforced (limit-probe collect, one job, no count)
    val dim = spark.createDataset(CityDirFixture.dimension)
    val e = intercept[IllegalArgumentException] {
      Geocoder.buildFuzzyIndex(spark, dim, maxIndexRows = 1)
    }
    assert(e.getMessage.contains("maxIndexRows=1"))
    // at the default bound the same dimension builds fine
    assert(Geocoder.buildFuzzyIndex(spark, dim).value._1.nonEmpty)
    // Long.MaxValue as "unbounded" must clamp, not overflow into a
    // negative limit()
    assert(Geocoder.buildFuzzyIndex(spark, dim,
      maxIndexRows = Long.MaxValue).value._1.nonEmpty)
  }

  test("geocodeViaJoin agrees with broadcast-lookup geocode") {
    val dim = spark.createDataset(CityDirFixture.dimension)
    val lines = Seq(
      (1L, Seq("123 Broadway", "nowhere special")),
      (2L, Seq("h 19 Pearl st")),
      (3L, Seq.empty[String])
    ).toDF("id", "vals")
      .withColumn("parsed", struct(expr(
        "transform(vals, v -> struct(v as value))").as("locations")))
      .drop("vals")
    val viaIndex = Geocoder.geocode(lines, Geocoder.buildIndex(spark, dim))
      .select(col("id"),
        expr("transform(geocoded, g -> struct(g.found, g.result.properties.address.id, g.error))").as("g"))
      .orderBy("id").collect().toSeq
    val viaJoin = Geocoder.geocodeViaJoin(lines, dim.toDF(), "id")
      .select(col("id"),
        expr("transform(geocoded, g -> struct(g.found, g.result.properties.address.id, g.error))").as("g"))
      .orderBy("id").collect().toSeq
    assert(viaIndex.map(_.toString) == viaJoin.map(_.toString))
  }

  test("geocodeAuto: dimension size picks the path; results agree across it") {
    val dim = spark.createDataset(CityDirFixture.dimension)
    val lines = Seq(
      (1L, Seq("123 Broadway", "nowhere special")),
      (2L, Seq("h 19 Pearl st")))
      .toDF("id", "vals")
      .withColumn("parsed", struct(expr(
        "transform(vals, v -> struct(v as value))").as("locations")))
      .drop("vals")
    // count shuffles through AQE wrappers AND materialized query stages
    // (QueryStageExec is a leaf — plain collect() can't see inside it)
    def countShuffles(p: org.apache.spark.sql.execution.SparkPlan): Int = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      val self = p match {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => 1
        case _ => 0
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      self + kids.map(countShuffles).sum
    }
    def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect() // materialize so AQE's final plan exists
      countShuffles(df.queryExecution.executedPlan)
    }
    // under the threshold: broadcast-map path — the fact side NEVER
    // shuffles (the guardrail's fast path is also the zero-exchange one)
    val small = Geocoder.geocodeAuto(spark, lines, dim, "id",
      maxIndexRows = 1000000L)
    assert(exchanges(small) == 0, small.queryExecution.executedPlan.toString)
    // over the threshold: join fallback — shuffles appear (the
    // re-collect), but the driver never collects the dimension
    val big = Geocoder.geocodeAuto(spark, lines, dim, "id",
      maxIndexRows = 1L)
    assert(exchanges(big) > 0)
    val shape = "transform(geocoded, g -> struct(g.found, " +
      "g.result.properties.address.id, g.error))"
    assert(small.select(col("id"), expr(shape).as("g")).orderBy("id")
        .collect().toSeq.map(_.toString) ==
      big.select(col("id"), expr(shape).as("g")).orderBy("id")
        .collect().toSeq.map(_.toString))
  }

  test("geocodeFuzzyAuto: paths agree across the threshold; join side never collects the dim") {
    val dim = spark.createDataset(CityDirFixture.dimension)
    val lines = Seq(
      (1L, Seq("123 Broadway")),   // exact
      (2L, Seq("123 Brodway")),    // 1 edit → fuzzy rescue
      (3L, Seq("999 Broadway")),   // unknown house number → miss
      (4L, Seq("19 Paerl st", "123 Broadway")), // mixed positions
      (5L, Seq.empty[String])      // empty → empty array
    ).toDF("id", "vals")
      .withColumn("parsed", struct(expr(
        "transform(vals, v -> struct(v as value))").as("locations")))
      .drop("vals")
    val shape = "transform(geocoded, g -> struct(g.found, " +
      "g.result.properties.address.id, g.error))"
    def render(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("id"), expr(shape).as("g")).orderBy("id")
        .collect().toSeq.map(_.toString)
    // under the threshold: the broadcast-index path (zero fact-side
    // exchanges beyond the udf lookup — same frame as geocodeFuzzy)
    val small = Geocoder.geocodeFuzzyAuto(spark, lines, dim, "id",
      maxIndexRows = 1000000L)
    // over the threshold: the join lowering — the dimension is NEVER
    // collected (buildFuzzyIndex's clamp would throw at 1 row)
    val big = Geocoder.geocodeFuzzyAuto(spark, lines, dim, "id",
      maxIndexRows = 1L)
    assert(render(small) == render(big))
    // semantics spot-checks on the join side alone
    val vj = Geocoder.geocodeFuzzyViaJoin(lines, dim.toDF(), "id")
      .select(col("id"), expr("get(geocoded, 0).found").as("f0"),
        expr("get(geocoded, 0).result.properties.address.name").as("n0"),
        size(col("geocoded")).as("n"))
      .as[(Long, Option[Boolean], Option[String], Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(vj(1L)._1.contains(true) && vj(2L)._1.contains(true))
    assert(vj(2L)._2 == vj(1L)._2) // typo resolved to the same address
    assert(vj(3L)._1.contains(false))
    assert(vj(4L)._1.contains(true) && vj(4L)._3 == 2)
    assert(vj(5L)._3 == 0)
  }

  private def mkLines(rows: Seq[(Long, Seq[String])]) =
    rows.toDF("id", "vals")
      .withColumn("parsed", struct(expr(
        "transform(vals, v -> struct(v as value))").as("locations")))
      .drop("vals")

  private def mkDim(keys: Seq[String]) =
    spark.createDataset(keys.zipWithIndex.map { case (k, i) =>
      graft.model.GeoAddress(s"addr-$i", k, s"street-$i", k, k,
        graft.model.Geometry("Point", Seq(Seq(i.toDouble, i.toDouble))))
    })

  private val renderShape = "transform(geocoded, g -> struct(g.found, " +
    "g.result.properties.address.id, g.error))"

  private def render(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(col("id"), expr(renderShape).as("g")).orderBy("id")
      .collect().toSeq.map(_.toString)

  test("fuzzy digit-less addresses: both paths agree and still rescue typos") {
    // neither side has house numbers — every key lands in the EMPTY
    // block; under the cap the block still serves candidates
    val dim = mkDim(Seq("pearl street", "bowery", "maiden lane"))
    val lines = mkLines(Seq(
      (1L, Seq("Perl street")),     // 1 edit, digit-less
      (2L, Seq("bowery")),          // exact, digit-less
      (3L, Seq("completely else"))))
    val broad = Geocoder.geocodeFuzzy(lines,
      Geocoder.buildFuzzyIndex(spark, dim))
    val joined = Geocoder.geocodeFuzzyViaJoin(lines, dim.toDF(), "id")
    assert(render(broad) == render(joined))
    val got = broad.select(col("id"), expr("geocoded[0].found"))
      .as[(Long, Boolean)].collect().toMap
    assert(got(1L) && got(2L) && !got(3L))
  }

  test("fuzzy block cap: an oversized block yields in-band misses on BOTH paths") {
    // digit-less entries sharing BOTH secondary blocks (first char 'p',
    // last char 't', length band 2) — at cap 2 every candidate block a
    // digit-less typo could probe is dropped; numbered entries share
    // house block "11"
    val dim = mkDim(Seq("pearl street", "peach street", "perry street",
      "11 bowery", "11 bowery x", "11 bowery y"))
    val lines = mkLines(Seq(
      (1L, Seq("pearls street")), // 1 edit, both target blocks capped
      (2L, Seq("11 bowerz")),     // 1 edit, house block capped
      (3L, Seq("11 bowery"))))    // exact hit survives the cap
    val broad = Geocoder.geocodeFuzzy(lines,
      Geocoder.buildFuzzyIndex(spark, dim, maxBlockSize = 2L))
    val joined = Geocoder.geocodeFuzzyViaJoin(lines, dim.toDF(), "id",
      maxBlockSize = 2L)
    assert(render(broad) == render(joined))
    val got = broad.select(col("id"), expr("geocoded[0].found"))
      .as[(Long, Boolean)].collect().toMap
    assert(!got(1L), "capped secondary blocks must miss in-band")
    assert(!got(2L), "capped house block must miss in-band")
    assert(got(3L), "exact path must ignore the fuzzy cap")
    // at the default cap the same typos rescue on both paths
    val broadOk = Geocoder.geocodeFuzzy(lines,
      Geocoder.buildFuzzyIndex(spark, dim))
    val joinedOk = Geocoder.geocodeFuzzyViaJoin(lines, dim.toDF(), "id")
    assert(render(broadOk) == render(joinedOk))
    val gotOk = broadOk.select(col("id"), expr("geocoded[0].found"))
      .as[(Long, Boolean)].collect().toMap
    assert(gotOk(1L) && gotOk(2L) && gotOk(3L))
  }

  test("digit-less rescue: typos at the first char, last char, and across a length band all rescue on BOTH paths") {
    val dim = mkDim(Seq("pearl street", "bowery", "maiden lane"))
    val lines = mkLines(Seq(
      (1L, Seq("searl street")),    // first char corrupted → l: block
      (2L, Seq("pearl streex")),    // last char corrupted → f: block
      (3L, Seq("pearl stree")),     // len 11 = band 2 vs dim band 3:
                                    // probe bands span the edit radius
      (4L, Seq("bowerr")),          // short key, 1 edit
      (5L, Seq("xxearl street"))))  // 2 edits INCLUDING the first char:
                                    // rescued through the l: block
    val broad = Geocoder.geocodeFuzzy(lines,
      Geocoder.buildFuzzyIndex(spark, dim))
    val joined = Geocoder.geocodeFuzzyViaJoin(lines, dim.toDF(), "id")
    assert(render(broad) == render(joined))
    val got = broad.select(col("id"), expr("geocoded[0].found"),
        expr("geocoded[0].result.properties.address.name"))
      .as[(Long, Boolean, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    for (id <- 1L to 3L)
      assert(got(id) == ((true, Some("pearl street"))), s"id=$id")
    assert(got(4L) == ((true, Some("bowery"))))
    assert(got(5L) == ((true, Some("pearl street"))))
  }

  test("house block is ASCII-only on both paths: Unicode digits share the empty block") {
    // '١'/'٢' are Arabic-Indic digits: Character.isDigit == true but
    // outside [0-9]. Pre-fix the broadcast path blocked these keys
    // under their Unicode digit runs while the join path lumped them
    // into the empty block — a 1-edit pair across different leading
    // digits was found by one path and missed by the other.
    assert(Geocoder.houseBlock("١ broadway") == "")
    assert(Geocoder.houseBlock("123 broadway") == "123")
    val dim = mkDim(Seq("١ broadway"))
    val lines = mkLines(Seq((1L, Seq("٢ broadway")))) // 1 edit away
    val broad = Geocoder.geocodeFuzzy(lines,
      Geocoder.buildFuzzyIndex(spark, dim))
    val joined = Geocoder.geocodeFuzzyViaJoin(lines, dim.toDF(), "id")
    assert(render(broad) == render(joined))
    assert(broad.select(expr("geocoded[0].found")).as[Boolean].head())
  }

  test("fitsDriver probes with a capped count — never a full dimension scan") {
    import spark.implicits._
    // single-partition dimension that THROWS past row 5: a bare
    // dim.count() would evaluate the poison rows; the limit-capped
    // probe must stop at maxIndexRows + 1 = 6 rows
    val poisoned = spark.range(0, 100, 1, 1).as[Long].map { i =>
      if (i >= 6) sys.error(s"probe scanned past the cap: row $i")
      graft.model.GeoAddress(s"a$i", s"$i x", "s", "x", s"$i x",
        graft.model.Geometry("Point", Seq(Seq(0.0, 0.0))))
    }
    assert(!Geocoder.fitsDriver(poisoned, maxIndexRows = 5L))
    // and a genuinely small dimension routes to the driver path
    val dim = spark.createDataset(CityDirFixture.dimension)
    assert(Geocoder.fitsDriver(dim, maxIndexRows = 5L))
    assert(!Geocoder.fitsDriver(dim, maxIndexRows = 4L))
  }

  test("GeoIndex survives Java serialization: every key answers as before") {
    import graft.model.{GeoAddress, Geometry, GeoProperties, GeoRef, GeoResult}
    val multi = Geometry("MultiPoint",
      Seq(Seq(-74.01, 40.70), Seq(-73.99, 40.74), Seq(-73.98, 40.75)))
    val rows = CityDirFixture.dimension ++ Seq(
      // a key shared by three rows, listed out of id order: addr-d1 wins
      GeoAddress("addr-d3", "9 Dup Place", "street-dup", "Dup Place",
        "9 dup place", Geometry("Point", Seq(Seq(3.0, 3.0)))),
      GeoAddress("addr-d1", "9 Dup Pl", "street-dup", "Dup Place",
        "9 dup place", multi),
      GeoAddress("addr-d2", "9 Dup Pl.", "street-dup", "Dup Place",
        "9 dup place", Geometry("Point", Seq(Seq(2.0, 2.0)))),
      GeoAddress("addr-m", "1 Multi Row", "street-multi", "Multi Row",
        "1 multi row", multi),
      GeoAddress("addr-n", null, "street-none", "No Geometry",
        "2 no geometry", null),
      GeoAddress("addr-c", "3 No Coords", "street-none", "No Coords",
        "3 no coords", Geometry("Point", null)),
      GeoAddress("addr-p", "4 Null Point", "street-none", "Null Point",
        "4 null point", Geometry("MultiPoint", Seq(Seq(1.0, 2.0), null))))
    val index = Geocoder.buildIndex(spark, spark.createDataset(rows)).value
    val ser = new org.apache.spark.serializer.JavaSerializer(
      spark.sparkContext.getConf).newInstance()
    val copy = ser.deserialize[GeoIndex](ser.serialize(index))
    assert(copy ne index)
    val expected = rows.groupBy(_.normalizedKey).map { case (k, as) =>
      val a = as.minBy(_.addressId)
      k -> GeoResult(GeoProperties(GeoRef(a.addressId, a.addressName),
        GeoRef(a.streetId, a.streetName)), a.geometry)
    }
    assert(index.size == expected.size && copy.size == expected.size)
    expected.foreach { case (k, want) =>
      assert(index.get(k).contains(want), k)
      assert(copy.get(k).contains(want), k)
    }
    assert(copy.get("9 dup place").map(_.properties.address.id)
      .contains("addr-d1"))
    assert(copy.get("1 multi row").map(_.geometry).contains(multi))
    assert(copy.get("123 broadway").map(_.geometry.coordinates)
      .contains(Seq(Seq(-74.0104, 40.7069))))
    Seq("", "9 dup", "123 broadway ", "nowhere special").foreach { k =>
      assert(index.get(k).isEmpty && copy.get(k).isEmpty, k)
    }
  }

  test("geocode's column type is the typed Seq[Geocoded] UDF's") {
    val typed = spark.range(1).select(
      udf((_: Long) => Seq.empty[graft.model.Geocoded]).apply(col("id")))
      .schema.head.dataType
    val lines = mkLines(Seq((1L, Seq("123 Broadway"))))
    val got = Geocoder.geocode(lines, Geocoder.buildIndex(spark,
      spark.createDataset(CityDirFixture.dimension))).schema("geocoded")
    assert(got.dataType == typed)
  }

  test("a locations column named with a space or a backtick resolves on every path") {
    val dim = spark.createDataset(CityDirFixture.dimension)
    val lines = Seq((1L, Seq("123 Broadway", "nowhere special"))).toDF("id", "vals")
      .withColumn("my locs", expr("transform(vals, v -> struct(v as value))"))
      .drop("vals")
    def found(df: org.apache.spark.sql.DataFrame): Seq[Boolean] =
      df.select(expr("transform(geocoded, g -> g.found)")).as[Seq[Boolean]].head()
    val index = Geocoder.buildIndex(spark, dim)
    assert(found(Geocoder.geocode(lines, index, "my locs")) == Seq(true, false))
    assert(found(Geocoder.geocodeFuzzy(lines,
      Geocoder.buildFuzzyIndex(spark, dim), "my locs")) == Seq(true, false))
    assert(found(Geocoder.geocodeViaJoin(lines, dim.toDF(), "id", "my locs")) ==
      Seq(true, false))
    val ticked = lines.withColumnRenamed("my locs", "my`locs")
    assert(found(Geocoder.geocode(ticked, index, "`my``locs`")) ==
      Seq(true, false))
  }
}
